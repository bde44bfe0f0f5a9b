package graft.ext.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions with `doGenCode` for the two hot scalar
  * kernels where higher-order-function folds are measurably slower: they
  * compile into the enclosing whole-stage-codegen loop instead of paying the
  * per-element lambda-interpreter cost.
  *
  * Both produce BIT-IDENTICAL results to their Column-expression twins
  * (`TextStats.rollingHash`, `Similarity.dot`): same operation order, same
  * arithmetic — verified by NativeExprSpec — so they can be swapped into any
  * oracle-checked query without changing results.
  *
  * Registration: `GraftFunctions.register(spark)` (idempotent, per-session)
  * or `spark.sql.extensions=graft.ext.expressions.GraftExtensions`.
  */
case class RollingHashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // no explicit Seq[AbstractDataType] annotation — that type is private[sql];
  // the inferred type conforms
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  // Iterate CODE POINTS, not UTF-16 units: the HOF twin's substr/ascii and
  // the DuckDB oracle's ord() both see code points, and the two must agree
  // on astral-plane characters (emoji), not just the BMP.
  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $c.toString();
         |long ${ev.value}_acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  ${ev.value}_acc = (${ev.value}_acc * 31L + $cp) % 1000000007L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

/** Strict left-to-right dot product over two array<double> columns — the
  * same fold order as `aggregate(zip_with(a,b,_*_), 0.0, _+_)`, so results
  * are bit-identical, minus the lambda interpreter. NULL semantics also
  * mirror the HOF twin exactly: NULL if either side is NULL, if the lengths
  * differ (zip_with pads with null, poisoning the sum), or if any element
  * is null. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProductExpr = copy(left = newLeft, right = newRight)
}

/** Integer twin of [[DotProductExpr]] over two array<long> columns — exact
  * long arithmetic (quantized codes ≤ 127 over ≤ thousands of dims never
  * approach 2^63), same NULL semantics as the HOF fold
  * `aggregate(zip_with(a,b,_*_), 0L, _+_)`, minus the lambda interpreter.
  * Honest measurement (10× sf0.1): a modest win alone — the dominant
  * int8-scan cost was the three-HOF quantizer ([[QuantizeInt8Expr]]). */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_int_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntDotExpr = copy(left = newLeft, right = newRight)
}

/** One-pass symmetric int8 quantizer over array<double> — the native twin of
  * [[graft.ext.Similarity.quantizeInt8]]'s HOF formulation
  * (`when(array_max(transform(v, abs)) === 0, zeros)
  *   .otherwise(transform(v, x => floor(x·127/maxabs + 0.5)))`).
  * The Column twin runs THREE CodegenFallback higher-order functions per
  * row (abs-transform, array_max, code-transform), each driving the lambda
  * interpreter per element AND breaking whole-stage codegen for the whole
  * projection — on the int8 ANN scan that interpreter, not the dot product,
  * was the measured bottleneck. This computes maxabs and the codes in two
  * tight loops per row, inside codegen.
  *
  * Twin-exact edges (NativeExprSpec): NULL array → NULL; empty array →
  * empty; all-NULL elements → all-NULL codes (maxabs is NULL, so the
  * otherwise-branch division nulls every element); maxabs == 0 → all-ZERO
  * codes, NULL elements included (the zeros lambda ignores its input);
  * NaN |x_i| is greatest (array_max ordering). Finite-input cast semantics
  * (floor(·+0.5) then double→long) match the non-ANSI cast the twin uses. */
object QuantizeInt8 {
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var maxabs = 0.0
    var any = false
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val a = math.abs(v.getDouble(i))
        if (!any || a > maxabs || java.lang.Double.isNaN(a)) maxabs = a
        any = true
      }
      i += 1
    }
    if (!any) return new GenericArrayData(new Array[Any](n))
    if (maxabs == 0.0) return new GenericArrayData(new Array[Long](n))
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        out(i) = math.floor(v.getDouble(i) * 127.0 / maxabs + 0.5).toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[QuantizeInt8]]. */
case class QuantizeInt8Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_quantize_int8"

  override protected def nullSafeEval(v: Any): Any =
    QuantizeInt8.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.ext.expressions.QuantizeInt8.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

/** n-bit SimHash over an array<long> of token hashes in ONE pass: bit i of
  * the result is set iff Σ over tokens of (±1 by hash-bit i) is positive.
  * The Column-expression twin (`Dedup.simhashN`) folds the array once PER
  * BIT — 60 interpreted lambda folds for the wide fingerprint; this computes
  * all bit-sums in a single traversal inside whole-stage codegen.
  *
  * Bit-identical to the twin, including its edge semantics (verified in
  * NativeExprSpec): empty array → 0; any NULL element → 0 (the twin's fold
  * poisons every bit-sum to NULL, so no `when` fires); NULL array → NULL. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 63, s"bits must be in [1,63]: $bits")

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) return 0L // twin: a null element zeroes every bit
      val h = arr.getLong(j)
      var i = 0
      while (i < bits) {
        counts(i) += (((h >>> i) & 1L).toInt << 1) - 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < bits) {
      if (counts(i) > 0) out |= 1L << i
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val nullSeen = ctx.freshName("nullSeen")
      s"""
         |int $n = $c.numElements();
         |int[] $counts = new int[$bits];
         |boolean $nullSeen = false;
         |for (int $j = 0; $j < $n && !$nullSeen; $j++) {
         |  if ($c.isNullAt($j)) { $nullSeen = true; break; }
         |  long $h = $c.getLong($j);
         |  for (int $i = 0; $i < $bits; $i++) {
         |    $counts[$i] += ((int) (($h >>> $i) & 1L) << 1) - 1;
         |  }
         |}
         |${ev.value} = 0L;
         |if (!$nullSeen) {
         |  for (int $i = 0; $i < $bits; $i++) {
         |    if ($counts[$i] > 0) { ${ev.value} |= 1L << $i; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** One-pass hashed word shingling: distinct n-word shingles of a word array,
  * each hashed to a long — the per-row kernel of the fast MinHash path.
  *
  * The Column-expression twin
  * (`transform(wordShingles(text, n), s => xxhash64(s))`) pays, per row: an
  * interpreted `transform` over a `sequence` building each shingle with
  * `slice` + `concat_ws` (two array allocations + one string per position),
  * an interpreted `array_distinct` over the shingle strings, and a second
  * interpreted `transform` for the hash. This computes the same result in
  * one traversal: join n words (UTF8String.concatWs — the same
  * null-skipping join `concat_ws` performs), dedup on byte equality (=
  * `array_distinct` string equality, first occurrence kept), hash with the
  * same `XXH64.hashUTF8String(s, 42L)` the builtin `xxhash64(s)` applies.
  * BIT-IDENTICAL to the twin (NativeExprSpec), including the edges: fewer
  * than n words → empty array, never phantom shingles; NULL words array →
  * empty array too (the twin's `wordShingles` guard `when(size(NULL) >= n)`
  * falls through to its empty-array branch — it never yields NULL). */
object HashedShingles {
  private val Space = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(Array.emptyLongArray)

  def empty: ArrayData = Empty

  def compute(words: ArrayData, n: Int): ArrayData = {
    val nw = words.numElements()
    if (nw < n) return Empty
    val out = new Array[Long](nw - n + 1)
    var m = 0
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i + n <= nw) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(Space, parts: _*)
      if (seen.add(s)) { out(m) = XXH64.hashUTF8String(s, 42L); m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }
}

/** See [[HashedShingles]]. Whole-stage codegen emits one static helper call
  * per row (the loop itself does not benefit from inlining into the
  * generated class; what matters is that the expression TREE is native, so
  * the enclosing projection stays codegen'd instead of falling back to the
  * lambda interpreter). Never NULL itself — a NULL words array yields the
  * empty shingle set, mirroring the twin — so eval/codegen handle the null
  * child inline instead of through the nullSafe helpers. */
case class HashedShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle length must be >= 1: $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hashed_shingles"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) HashedShingles.empty
    else HashedShingles.compute(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val arrayCls = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        ${childGen.code}
        $arrayCls ${ev.value} = ${childGen.isNull}
          ? graft.ext.expressions.HashedShingles.empty()
          : graft.ext.expressions.HashedShingles.compute(${childGen.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedShinglesExpr =
    copy(child = newChild)
}

/** One-pass k-seed MinHash signature over an array<long> of shingle hashes.
  *
  * The Column-expression twin
  * (`array((1 to k).map(j => array_min(transform(sh, s => xxhash64(lit(j), s)))))`)
  * traverses the array k times through the lambda interpreter, allocating a
  * k× intermediate array. This computes all k minima in one traversal with
  * the exact arithmetic the builtin applies: `xxhash64(lit(j), s)` hashes
  * the int literal j into the default seed 42 then folds in the long s, so
  * element j−1 of the result is min over s of
  * `XXH64.hashLong(s, XXH64.hashInt(j, 42L))`.
  *
  * Bit-identical to the twin (NativeExprSpec), including the edges: empty
  * array → every element NULL (`array_min` of an empty array); a NULL
  * shingle contributes `hashInt(j, 42L)` itself (the builtin SKIPS null
  * children, leaving the seed fold-state as the value — it does not return
  * NULL); NULL array → array of k NULLs (the twin's outer `array(...)` is
  * never null — each `array_min(transform(null, …))` element is). */
object MinHashSig {
  // seed j = hashInt(j+1, 42L) is a pure function of k — computed once per
  // signature width, not once per row (the kernel runs per document)
  private val seedCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  private def seedsFor(k: Int): Array[Long] =
    seedCache.computeIfAbsent(k, k => {
      val s = new Array[Long](k)
      var j = 0
      while (j < k) { s(j) = XXH64.hashInt(j + 1, 42L); j += 1 }
      s
    })

  def allNulls(k: Int): ArrayData = new GenericArrayData(new Array[Any](k))

  def compute(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return allNulls(k)
    val seeds = seedsFor(k)
    val mins = new Array[Long](k)
    var i = 0
    while (i < n) {
      val isNull = hashes.isNullAt(i)
      val h = if (isNull) 0L else hashes.getLong(i)
      var j = 0
      while (j < k) {
        val v = if (isNull) seeds(j) else XXH64.hashLong(h, seeds(j))
        if (i == 0 || v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** See [[MinHashSig]]. Never NULL itself (mirroring the twin's outer
  * `array(...)`), so eval/codegen handle the null child inline instead of
  * through the nullSafe helpers. */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"signature length must be >= 1: $k")

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_sig"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MinHashSig.allNulls(k)
    else MinHashSig.compute(v.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val arrayCls = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        ${childGen.code}
        $arrayCls ${ev.value} = ${childGen.isNull}
          ? graft.ext.expressions.MinHashSig.allNulls($k)
          : graft.ext.expressions.MinHashSig.compute(${childGen.value}, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** One-pass k-seed PORTABLE md5 MinHash signature over an array<string> of
  * shingles — the native kernel of the md5-string family
  * ([[graft.ext.Dedup.minhashSignature]] / [[graft.ext.Dedup
  * .minhashSignature60]], the law every near-dup/linkage oracle restates).
  *
  * The Column-expression twin
  * (`array((1 to k).map(j => array_min(transform(sh, s => md5(concat(lit(s"$j:"), s))))))`)
  * traverses the shingle array k times through the lambda interpreter,
  * hex-encodes EVERY digest (k × n 32-char strings), and compares minima as
  * strings. This computes all k minima in one traversal over the raw 16-byte
  * digests and hex-encodes only the k winners.
  *
  * Equality of results is EXACT, not approximate: lowercase-hex encoding is
  * byte-order-preserving ('0'<'1'<…<'9'<'a'<…<'f' in ASCII), so unsigned
  * byte-wise comparison of two digests orders exactly like lexicographic
  * comparison of their hex strings — the min digest IS the min hex string.
  *
  * Edge semantics mirror the twin bit for bit (NativeExprSpec): empty array
  * → every element NULL (`array_min` of an empty array); a NULL shingle is
  * skipped (`md5(concat(lit, null))` is NULL and `array_min` ignores NULLs);
  * NULL array → array of k NULLs (the twin's outer `array(...)` is never
  * null — each element is). */
object Md5MinHash {
  // "<j>:" prefix bytes are a pure function of k — computed once per
  // signature width, not once per row
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()
  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, k => {
      val p = new Array[Array[Byte]](k)
      var j = 0
      while (j < k) {
        p(j) = s"${j + 1}:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        j += 1
      }
      p
    })

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def allNulls(k: Int): ArrayData = new GenericArrayData(new Array[Any](k))

  /** a < b, unsigned byte-wise over the 16-byte digests — exactly the
    * lexicographic order of the lowercase-hex encodings. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Per-seed minimum digests (null = no non-null shingle seen). */
  private def minDigests(shingles: ArrayData, k: Int): Array[Array[Byte]] = {
    val n = shingles.numElements()
    val prefixes = prefixesFor(k)
    val md = mdLocal.get()
    val mins = new Array[Array[Byte]](k)
    val scratch = new Array[Byte](16)
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val sb = shingles.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(sb)
          md.digest(scratch, 0, 16)
          if (mins(j) == null) mins(j) = scratch.clone()
          else if (less(scratch, mins(j)))
            System.arraycopy(scratch, 0, mins(j), 0, 16)
          j += 1
        }
      }
      i += 1
    }
    mins
  }

  private val HexChars = "0123456789abcdef".getBytes

  def computeHex(shingles: ArrayData, k: Int): ArrayData = {
    val mins = minDigests(shingles, k)
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val m = mins(j)
      if (m != null) {
        val cs = new Array[Byte](32)
        var i = 0
        while (i < 16) {
          cs(2 * i) = HexChars((m(i) >> 4) & 0xf)
          cs(2 * i + 1) = HexChars(m(i) & 0xf)
          i += 1
        }
        out(j) = UTF8String.fromBytes(cs)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** First-15-hex-chars 60-bit longs of the per-seed minima — the
    * [[graft.ext.Dedup.minhashSignature60]] law
    * (`conv(substring(hex, 1, 15), 16, 10)`): bytes 0–6 big-endian plus the
    * high nibble of byte 7. Minimizing raw digests commutes with the
    * truncation: equal-length hex strings order lexicographically, so the
    * full-string minimum's 15-char prefix equals the minimum of prefixes. */
  def compute60(shingles: ArrayData, k: Int): ArrayData = {
    val mins = minDigests(shingles, k)
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val m = mins(j)
      if (m != null) {
        var v = 0L
        var i = 0
        while (i < 7) { v = (v << 8) | (m(i) & 0xffL); i += 1 }
        v = (v << 4) | ((m(7) >> 4) & 0xfL)
        out(j) = java.lang.Long.valueOf(v)
      }
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[Md5MinHash]]. Never NULL itself (mirroring the twin's outer
  * `array(...)`), so eval/codegen handle the null child inline. */
case class Md5MinHashExpr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"signature length must be >= 1: $k")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_md5_minhash"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) Md5MinHash.allNulls(k)
    else Md5MinHash.computeHex(v.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val arrayCls = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        ${childGen.code}
        $arrayCls ${ev.value} = ${childGen.isNull}
          ? graft.ext.expressions.Md5MinHash.allNulls($k)
          : graft.ext.expressions.Md5MinHash.computeHex(${childGen.value}, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5MinHashExpr =
    copy(child = newChild)
}

/** See [[Md5MinHash.compute60]]. */
case class Md5MinHash60Expr(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"signature length must be >= 1: $k")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_md5_minhash60"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) Md5MinHash.allNulls(k)
    else Md5MinHash.compute60(v.asInstanceOf[ArrayData], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val arrayCls = classOf[ArrayData].getName
    ev.copy(
      code = code"""
        ${childGen.code}
        $arrayCls ${ev.value} = ${childGen.isNull}
          ? graft.ext.expressions.Md5MinHash.allNulls($k)
          : graft.ext.expressions.Md5MinHash.compute60(${childGen.value}, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5MinHash60Expr =
    copy(child = newChild)
}

/** One-pass per-document n-gram repetition profile: (top_gram_n, n_grams) —
  * the occurrence count of the most frequent word n-gram and the total
  * occurrence count. The frame-level twin
  * ([[graft.ext.TextStats.repetitionStatsViaExplode]]) explodes every n-gram
  * OCCURRENCE and shuffles them all through a (doc, gram) aggregation — a
  * corpus-tokens-sized exchange for a statistic that never needs to leave
  * its row. This computes exact string counts (no hashing, no collisions)
  * in one traversal with a per-row map bounded by the document length, so
  * the repetition profile is a pure zero-shuffle projection.
  *
  * NULL / short edge: fewer than n words (or a NULL words array) → NULL —
  * mirroring the explode twin, where such documents produce no row. */
object RepetitionStats {
  private val Space = UTF8String.fromString(" ")

  def compute(words: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nw = words.numElements()
    if (nw < n) return null
    val counts = new java.util.HashMap[UTF8String, Integer]()
    var top = 0L
    var i = 0
    while (i + n <= nw) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      val s = UTF8String.concatWs(Space, parts: _*)
      val c = counts.merge(s, 1, (a, b) => a + b)
      if (c > top) top = c.toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top, (nw - n + 1).toLong))
  }
}

/** See [[RepetitionStats]]. */
case class RepetitionStatsExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n-gram length must be >= 1: $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("top_gram_n", LongType, nullable = false),
    StructField("n_grams", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_repetition"

  override protected def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.ext.expressions.RepetitionStats.compute($c, $n);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

/** Bloom-filter membership probe against a TORRENT-BROADCAST serialized
  * filter — the scale-correct carrier for a big filter blob. Spark's own
  * `BloomFilterMightContain` requires a foldable filter side, which embeds
  * the whole bitset into every task binary as a literal: measurably fatal
  * already at a 5 MB filter × an iterative consumer (multi-MiB "large task
  * binary" per stage, driver OOM), and a non-starter at the GB-scale
  * filters a billion-key store needs. Here the task binary carries only
  * the broadcast HANDLE; executors fetch the blob once and deserialize
  * lazily per closure instance. Codegen'd via a reference object, so the
  * probe stays inside the whole-stage loop. */
case class BloomProbeExpr(filterBc: org.apache.spark.broadcast.Broadcast[Array[Byte]],
                          child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBc.value))

  def probe(h: Long): Boolean = filter.mightContainLong(h)

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomProbeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbeExpr =
    copy(child = newChild)
}

/** Greedy byte-pair-encoding over a ranked merges table — the real
  * tokenizer behind [[BpeCountExpr]], filling the documented stand-in gap of
  * `TextStats.nSubwords`. The merges format is the public `merges.txt`
  * convention (one space-separated symbol pair per line, rank = line order,
  * `#`-prefixed header/comment lines skipped). Encoding is the textbook
  * loop (Sennrich et al. 2016): start from single characters and repeatedly
  * merge EVERY adjacent occurrence of the lowest-ranked pair until no
  * adjacent pair is in the table. No end-of-word marker is appended — the
  * merges file must be authored against plain character symbols. */
object Bpe {
  def loadMerges(path: String): Array[(String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val parts = l.split(" ")
        require(parts.length == 2, s"bad merges line (want 'a b'): $l")
        (parts(0), parts(1))
      }.toArray
    finally src.close()
  }

  /** rank lookup keyed "a b" (symbols never contain NUL). */
  def rankMap(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.putIfAbsent(merges(i)._1 + " " + merges(i)._2, i)
      i += 1
    }
    m
  }

  /** Number of BPE pieces `word` encodes to (the count is what token
    * budgeting needs; the pieces themselves are never materialized). */
  def encodeCount(word: String, ranks: java.util.HashMap[String, Integer]): Int = {
    if (word.isEmpty) return 0
    var symbols = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) { // codepoint-safe char split
      val cp = word.codePointAt(i)
      symbols.add(word.substring(i, i + Character.charCount(cp)))
      i += Character.charCount(cp)
    }
    while (symbols.size > 1) {
      var best = -1
      var bestRank = Int.MaxValue
      var j = 0
      while (j < symbols.size - 1) {
        val r = ranks.get(symbols.get(j) + " " + symbols.get(j + 1))
        if (r != null && r < bestRank) { bestRank = r; best = j }
        j += 1
      }
      if (best < 0) return symbols.size
      // merge every adjacent occurrence of the best pair, left to right
      val (a, b) = (symbols.get(best), symbols.get(best + 1))
      val merged = new java.util.ArrayList[String](symbols.size)
      var k = 0
      while (k < symbols.size) {
        if (k < symbols.size - 1 && symbols.get(k) == a && symbols.get(k + 1) == b) {
          merged.add(a + b); k += 2
        } else { merged.add(symbols.get(k)); k += 1 }
      }
      symbols = merged
    }
    symbols.size
  }

  /** Whole-document piece count: lowercased whitespace tokens (the
    * `TextStats.tokens` convention), summed over words. */
  def countDocument(text: UTF8String, ranks: java.util.HashMap[String, Integer]): Int = {
    // Locale.ROOT: default-locale lowercasing (Turkish dotless-ı class)
    // would make counts host-dependent and diverge from Spark's
    // locale-independent lower()
    val words = text.toString.toLowerCase(java.util.Locale.ROOT).split(" ")
    var total = 0
    var i = 0
    while (i < words.length) {
      total += encodeCount(words(i), ranks)
      i += 1
    }
    total
  }
}

/** See [[Bpe]]. The merges table rides the expression instance (one copy per
  * task binary — merges files are 10⁴-10⁵ lines, well under broadcast-worthy
  * size); the rank map is built lazily per executor instance. Codegen'd via
  * a reference object, so the count stays inside the whole-stage loop. */
case class BpeCountExpr(merges: Array[(String, String)], child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_bpe_count"

  @transient private lazy val ranks = Bpe.rankMap(merges)

  def count(text: UTF8String): Int = Bpe.countDocument(text, ranks)

  override protected def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCount", this, classOf[BpeCountExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.count($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
    copy(child = newChild)
}

/** Unicode NFC normalization (`java.text.Normalizer`) — the canonical
  * composition every text pipeline runs before hashing, deduplicating, or
  * tokenizing multilingual text: visually identical strings with different
  * code-point sequences ("é" composed vs "e"+U+0301) must hash and match
  * identically, or dedup silently splits and tokenizers fragment. Spark
  * has no built-in normalizer, so this is a native codegen'd kernel; the
  * JDK implements Unicode NFC per UAX #15, the same algorithm any
  * conforming engine implements, which is what makes an external
  * restatement possible. Fast path: `Normalizer.isNormalized` (true for
  * all-ASCII and most real text) returns the INPUT UTF8String — zero
  * allocation unless composition actually happens. */
case class NormalizeNfcExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  def normalize(in: UTF8String): UTF8String = {
    val s = in.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) in
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def nullSafeEval(input: Any): Any =
    normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcExpr", this,
      classOf[NormalizeNfcExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.normalize($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeNfcExpr =
    copy(child = newChild)
}

/** Diacritic stripping — NFD decomposition + removal of every Unicode Mark
  * (Mn/Mc/Me), the other half of text canonicalization next to
  * [[NormalizeNfcExpr]]: search, matching, and dedup across Latin-script
  * languages usually want "café" ≡ "cafe". Deliberately NO recomposition
  * pass afterwards (the utf8proc-style contract external engines
  * implement): base letters that are not marks — ß, æ — pass through
  * untouched. Fast path: an all-ASCII string (the overwhelmingly common
  * case) returns the input UTF8String with zero allocation. */
case class StripAccentsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_strip_accents"

  def strip(in: UTF8String): UTF8String = {
    val s = in.toString
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return in
    val d = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var j = 0
    while (j < d.length) {
      val cp = d.codePointAt(j)
      val t = Character.getType(cp)
      if (t != Character.NON_SPACING_MARK && t != Character.COMBINING_SPACING_MARK &&
          t != Character.ENCLOSING_MARK) sb.appendCodePoint(cp)
      j += Character.charCount(cp)
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def nullSafeEval(input: Any): Any =
    strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stripAccents", this,
      classOf[StripAccentsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.strip($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): StripAccentsExpr =
    copy(child = newChild)
}

/** Greedy nearest-neighbor chain over one shard's vectors — the
  * in-context-pretraining ordering law (Shi et al., "In-Context
  * Pretraining: Language Modeling Beyond Document Boundaries", ICLR 2024):
  * start at the smallest id, repeatedly visit the unvisited vector most
  * cosine-similar to the CURRENT one. Ties break to the smaller id; a
  * zero-norm pairing scores −2.0 (below every true cosine), so degenerate
  * vectors are appended last in id order. Cosines are index-order strict
  * folds in double — the portable arithmetic every oracle restates.
  * O(s²·d) for shard size s: the bounded unit a DISTRIBUTED ordering
  * actually optimizes (a corpus-global chain would serialize the corpus;
  * chaining within hash shards is the paper-faithful scalable form). */
object GreedyChain {
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Null anywhere in the inputs — or RAGGED dimensions — → null result
    * (mirrors the HOF fold convention of the sibling kernels; a truncated
    * prefix dot over mixed-dimension vectors would be a silently wrong
    * cosine, normalized by full-vector norms). [[graft.ext.Sampling
    * .icpOrder]] converts the null into a loud error. */
  def compute(idsD: ArrayData, vecsD: ArrayData): ArrayData = {
    val s = idsD.numElements()
    if (s == 0) return new GenericArrayData(Array.empty[Long])
    val ids = new Array[Long](s)
    val vecs = new Array[Array[Double]](s)
    var dim = -1
    var i = 0
    while (i < s) {
      if (idsD.isNullAt(i) || vecsD.isNullAt(i)) return null
      ids(i) = idsD.getLong(i)
      val v = vecsD.getArray(i)
      val d = v.numElements()
      if (dim < 0) dim = d
      else if (d != dim) return null
      val arr = new Array[Double](d)
      var j = 0
      while (j < d) {
        if (v.isNullAt(j)) return null
        arr(j) = v.getDouble(j); j += 1
      }
      vecs(i) = arr
      i += 1
    }
    val norms = new Array[Double](s)
    i = 0
    while (i < s) { norms(i) = math.sqrt(dot(vecs(i), vecs(i))); i += 1 }
    val visited = new Array[Boolean](s)
    val order = new Array[Long](s)
    var cur = 0
    i = 1
    while (i < s) { if (ids(i) < ids(cur)) cur = i; i += 1 }
    visited(cur) = true; order(0) = ids(cur)
    var step = 1
    while (step < s) {
      var best = -1; var bestSim = 0.0
      var c = 0
      while (c < s) {
        if (!visited(c)) {
          val nn = norms(cur) * norms(c)
          val sim = if (nn == 0.0) -2.0 else dot(vecs(cur), vecs(c)) / nn
          if (best < 0 || sim > bestSim ||
              (sim == bestSim && ids(c) < ids(best))) {
            best = c; bestSim = sim
          }
        }
        c += 1
      }
      visited(best) = true; order(step) = ids(best); cur = best
      step += 1
    }
    new GenericArrayData(order)
  }
}

/** Expression wrapper over [[GreedyChain]]: (array<long> ids,
  * array<array<double>> vectors, parallel by position) → array<long>
  * visit order. One evaluation per SHARD (not per row), so the kernel
  * call dominates and codegen only saves the dispatch. */
case class GreedyChainExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(LongType), ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_greedy_chain"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ids = a.asInstanceOf[ArrayData]
    val vecs = b.asInstanceOf[ArrayData]
    if (ids.numElements() != vecs.numElements()) null
    else GreedyChain.compute(ids, vecs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("chain")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  ($a.numElements() != $b.numElements())
         |    ? null : graft.ext.expressions.GreedyChain.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): GreedyChainExpr =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** SQL-builder guard for kernels whose arg `i` must be a foldable
    * integer literal: a wrong arity or a non-literal used to surface as a
    * raw NPE / IndexOutOfBounds from `children(1).eval()` — fail instead
    * with the analysis-time message every other SQL arity error gets. */
  private def intLitArg(fn: String, children: Seq[Expression], i: Int,
                        expectedArity: Int): Int = {
    if (children.length != expectedArity)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3055",
        messageParameters = Map("msg" ->
          s"$fn expects exactly $expectedArity arguments, got ${children.length}"))
    val c = children(i)
    val integral = c.dataType match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (!c.foldable || !integral)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_3055",
        messageParameters = Map("msg" ->
          s"$fn argument ${i + 1} must be an integer literal, got ${c.sql}"))
    c.eval().asInstanceOf[Number].intValue()
  }
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "graft_rolling_hash"),
      (children: Seq[Expression]) => RollingHashExpr(children.head)),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProductExpr(children(0), children(1))),
    (FunctionIdentifier("graft_int_dot"),
      new ExpressionInfo(classOf[IntDotExpr].getName, "graft_int_dot"),
      (children: Seq[Expression]) => IntDotExpr(children(0), children(1))),
    (FunctionIdentifier("graft_quantize_int8"),
      new ExpressionInfo(classOf[QuantizeInt8Expr].getName, "graft_quantize_int8"),
      (children: Seq[Expression]) => QuantizeInt8Expr(children.head)),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (children: Seq[Expression]) =>
        // second arg = bit width, must be an integer literal
        SimHashExpr(children(0),
          intLitArg("graft_simhash", children, 1, 2))),
    (FunctionIdentifier("graft_hashed_shingles"),
      new ExpressionInfo(classOf[HashedShinglesExpr].getName, "graft_hashed_shingles"),
      (children: Seq[Expression]) =>
        // second arg = shingle length, must be an integer literal
        HashedShinglesExpr(children(0),
          intLitArg("graft_hashed_shingles", children, 1, 2))),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (children: Seq[Expression]) =>
        // second arg = signature length, must be an integer literal
        MinHashSigExpr(children(0),
          intLitArg("graft_minhash_sig", children, 1, 2))),
    (FunctionIdentifier("graft_md5_minhash"),
      new ExpressionInfo(classOf[Md5MinHashExpr].getName, "graft_md5_minhash"),
      (children: Seq[Expression]) =>
        // second arg = signature length, must be an integer literal
        Md5MinHashExpr(children(0),
          intLitArg("graft_md5_minhash", children, 1, 2))),
    (FunctionIdentifier("graft_md5_minhash60"),
      new ExpressionInfo(classOf[Md5MinHash60Expr].getName, "graft_md5_minhash60"),
      (children: Seq[Expression]) =>
        // second arg = signature length, must be an integer literal
        Md5MinHash60Expr(children(0),
          intLitArg("graft_md5_minhash60", children, 1, 2))),
    (FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionStatsExpr].getName, "graft_repetition"),
      (children: Seq[Expression]) =>
        // second arg = n-gram length, must be an integer literal
        RepetitionStatsExpr(children(0),
          intLitArg("graft_repetition", children, 1, 2))),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NormalizeNfcExpr].getName, "graft_nfc"),
      (children: Seq[Expression]) => NormalizeNfcExpr(children.head)),
    (FunctionIdentifier("graft_strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_strip_accents"),
      (children: Seq[Expression]) => StripAccentsExpr(children.head)),
    (FunctionIdentifier("graft_greedy_chain"),
      new ExpressionInfo(classOf[GreedyChainExpr].getName, "graft_greedy_chain"),
      (children: Seq[Expression]) => GreedyChainExpr(children(0), children(1))),
    (FunctionIdentifier("graft_wjaccard_merge"),
      new ExpressionInfo(classOf[WJaccardMergeExpr].getName, "graft_wjaccard_merge"),
      (children: Seq[Expression]) => WJaccardMergeExpr(children(0), children(1))),
    (FunctionIdentifier("graft_sig_agree"),
      new ExpressionInfo(classOf[SigAgreeExpr].getName, "graft_sig_agree"),
      (children: Seq[Expression]) => SigAgreeExpr(children(0), children(1))))

  /** Idempotent per-session registration (alternative to the extensions
    * config for sessions the library doesn't create). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** The extensions-config path ([[GraftExtensions]]) injects the SAME
    * registry, so the two registration routes can never drift apart. */
  def injectInto(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}

/** Sequential literal-substring scrub: `s.replace(g, mask)` applied for
  * every gram IN ARRAY ORDER — semantically identical to folding one
  * `replace` Column per gram, but the fold form nests one expression node
  * per gram, so at thousands of grams the single 10k-deep tree overflows
  * codegen method limits (interpreted fallback) or the optimizer's
  * recursive transforms (planning failure). Here the gram array rides a
  * codegen REFERENCE OBJECT and the loop is data, not code: constant plan
  * size and constant generated-method size at ANY gram count, and the
  * whole-stage loop keeps the scrub inside codegen. */
case class ScrubGramsExpr(child: Expression, grams: Seq[String], mask: String)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_scrub_grams"

  // Spark's replace() is a no-op on an empty search string, but Java's
  // String.replace("", mask) inserts the mask between every character —
  // drop empty grams so the kernel matches the replace-fold it stands for.
  @transient private lazy val gramArr: Array[String] =
    grams.filter(_.nonEmpty).toArray
  @transient private lazy val maskStr: String = mask

  def scrub(in: UTF8String): UTF8String = {
    var s = in.toString
    var i = 0
    while (i < gramArr.length) {
      // String.replace is the same non-overlapping left-to-right
      // replace-all as Spark's replace(): skip the allocation unless the
      // gram actually occurs (most grams miss most documents)
      if (s.contains(gramArr(i))) s = s.replace(gramArr(i), maskStr)
      i += 1
    }
    UTF8String.fromString(s)
  }

  override protected def nullSafeEval(input: Any): Any =
    scrub(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("scrubGrams", this,
      classOf[ScrubGramsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.scrub($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ScrubGramsExpr =
    copy(child = newChild)
}

/** Sorted-merge weighted-Jaccard over a candidate pair's two pre-weighted
  * token arrays — the verify kernel of [[graft.ext.FuzzyJoin]]'s weighted
  * family. Inputs: two array<struct<t:string, w:double>>, each an entity's
  * distinct tokens with their weights, SORTED ascending by t (the callers
  * build them once per entity with array_sort; tokens are unique within an
  * entity). Result is BIT-IDENTICAL to the HOF tree it replaces
  * (FuzzyJoinSpec pins it):
  *
  *   es  = array_sort(union entries (t, w, b=both))
  *   num = aggregate(filter(es, _.b), 0.0, _ + _.w)   — strict left fold
  *   den = aggregate(es, 0.0, _ + _.w)
  *   num / den
  *
  * A two-pointer merge of the sorted inputs visits the union's tokens in
  * exactly array_sort's order (UTF8String binary order), adding each
  * token's weight to `den` and, when present on BOTH sides, to `num` — the
  * same addition sequences as the two folds. Replacing the per-pair
  * explode → weight join → collect_list → fold chain with this projection
  * removes the pair×token row blowup and the object hash-aggregate that
  * dominated the verify stage (AQE coalesces it to few tasks — small
  * shuffled bytes, heavy per-row CPU). */
case class WJaccardMergeExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  private val entryType = ArrayType(StructType(Seq(
    StructField("t", StringType), StructField("w", DoubleType))))
  override def inputTypes = Seq(entryType, entryType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_wjaccard_merge"

  /** Boxed so codegen can signal null (any null entry/field → null, the
    * HOF tree's propagation). */
  def merge(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var num = 0.0
    var den = 0.0
    var i = 0
    var j = 0
    while (i < na || j < nb) {
      var cmp = 0
      if (i >= na) cmp = 1
      else if (j >= nb) cmp = -1
      else {
        if (a.isNullAt(i) || b.isNullAt(j)) return null
        cmp = a.getStruct(i, 2).getUTF8String(0)
          .compareTo(b.getStruct(j, 2).getUTF8String(0))
      }
      if (cmp < 0) {
        if (a.isNullAt(i)) return null
        val e = a.getStruct(i, 2)
        if (e.isNullAt(0) || e.isNullAt(1)) return null
        den += e.getDouble(1)
        i += 1
      } else if (cmp > 0) {
        if (b.isNullAt(j)) return null
        val e = b.getStruct(j, 2)
        if (e.isNullAt(0) || e.isNullAt(1)) return null
        den += e.getDouble(1)
        j += 1
      } else {
        val e = a.getStruct(i, 2)
        if (e.isNullAt(0) || e.isNullAt(1)) return null
        val w = e.getDouble(1)
        den += w
        num += w
        i += 1
        j += 1
      }
    }
    java.lang.Double.valueOf(num / den)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val r = merge(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wjMerge", this,
      classOf[WJaccardMergeExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("wj")
      s"""
         |java.lang.Double $tmp = $ref.merge($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): WJaccardMergeExpr =
    copy(left = newLeft, right = newRight)
}

/** Positional agreement count of two signature arrays (array<string>) —
  * the store-probe scorer of [[graft.ext.Dedup]]'s banded served stores.
  * BIT-IDENTICAL to the HOF tree it replaces:
  *
  *   aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
  *             0, _ + _)
  *
  * i.e. iterate max(|a|, |b|) positions (zip_with pads the shorter side
  * with null), count a position iff both elements are non-null and equal.
  * The HOF pair is CodegenFallback and runs the lambda interpreter per
  * position per candidate pair — on a store probe that evaluates it for
  * every shared-band candidate, that interpreter (and the codegen break it
  * causes for the whole probe stage) was the measured stage cost. */
case class SigAgreeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "graft_sig_agree expects two array<string> or two array<bigint> " +
            s"columns, got (${left.dataType.sql}, ${right.dataType.sql})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sig_agree"

  // both signature families: md5-hex strings and 60-bit longs
  @transient private lazy val longElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  def agree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements()) // a padded-null
    var c = 0                               // position can never count
    var i = 0
    if (longElems) {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
          c += 1
        i += 1
      }
    } else {
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i) &&
            a.getUTF8String(i).equals(b.getUTF8String(i))) c += 1
        i += 1
      }
    }
    c
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    agree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigAgree", this,
      classOf[SigAgreeExpr].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.agree($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SigAgreeExpr =
    copy(left = newLeft, right = newRight)
}

/** For `spark.sql.extensions=graft.ext.expressions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  // one registry: the extensions path injects exactly the functions
  // GraftFunctions.register installs — a second hand-maintained list here
  // had already drifted (it missed the two newest kernels)
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
