package graft.ext

import graft.SparkSpec
import graft.ext.expressions.GraftFunctions
import org.apache.spark.sql.functions._

/** Native codegen'd expressions must be bit-identical to their
  * Column-expression twins — that's what lets them replace the twins inside
  * oracle-checked queries. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = { super.beforeAll(); GraftFunctions.register(spark) }

  test("graft_rolling_hash ≡ TextStats.rollingHash on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      HofTwins.rollingHashHof(col("text")).as("hof"),
      expr("graft_rolling_hash(text)").as("native"))
      .where(col("hof") =!= col("native")).count()
    assert(diff === 0)
    // edge cases: empty string, single char
    val edge = Seq("", "a", "Z9 ").toDF("text").select(
      HofTwins.rollingHashHof(col("text")).as("hof"),
      expr("graft_rolling_hash(text)").as("native")).collect()
    edge.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_dot ≡ Similarity.dot bit-for-bit on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val pairs = e.select(col("vec_id").as("a_id"), col("v").as("va"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("v").as("vb")))
      .where(col("a_id") < 20 && col("b_id") < 20)
    // bitwise comparison: doubles cast to raw bits, not approximate equality
    val diff = pairs.select(
      HofTwins.dotHof(col("va"), col("vb")).as("hof"),
      expr("graft_dot(va, vb)").as("native"))
      .where(expr("cast(hof as string) != cast(native as string) OR hof != native"))
      .count()
    assert(diff === 0)
  }

  test("graft_simhash ≡ the per-bit HOF fold on real token hashes, 16 and 60 bits") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (bits <- Seq(16, 60)) {
      val hashed = docs.select(array_distinct(transform(
        split(lower(col("text")), " "),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))).as("hs"))
      val diff = hashed.select(
        HofTwins.simhashNHof(col("hs"), bits).as("hof"),
        expr(s"graft_simhash(hs, $bits)").as("native"))
        .where(col("hof") =!= col("native")).count()
      assert(diff === 0, s"bits=$bits")
    }
  }

  test("graft_simhash edge semantics match the twin: empty, null element, null array") {
    val rows = spark.sql(
      """SELECT graft_simhash(cast(array() as array<bigint>), 16) AS empty,
        |  graft_simhash(array(5L, cast(null as bigint)), 16) AS nullelem,
        |  graft_simhash(cast(null as array<bigint>), 16) AS nullside""".stripMargin)
      .head
    assert(rows.getLong(0) === 0L)
    assert(rows.getLong(1) === 0L) // the fold twin's poisoned sums yield 0
    assert(rows.isNullAt(2))
  }

  test("IntDotExpr ≡ the zip_with/aggregate fold on quantized codes, incl. null semantics") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        Similarity.quantizeInt8(Similarity.asDouble(col("embedding"))).as("c"))
    val pairs = e.select(col("vec_id").as("a_id"), col("c").as("ca"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("c").as("cb")))
      .where(col("a_id") < 20 && col("b_id") < 20)
    val diff = pairs.select(
      HofTwins.intDotHof(col("ca"), col("cb")).as("hof"),
      Similarity.intDot(col("ca"), col("cb")).as("native"))
      .where(col("hof") =!= col("native")).count()
    assert(diff === 0)
    // null semantics mirror the HOF twin: mismatched lengths, null element,
    // null side → NULL
    val rows = Seq((Seq(1L, 2L), Seq(3L))).toDF("a", "b")
      .select(Similarity.intDot(col("a"), col("b")).as("mismatch"),
        Similarity.intDot(array(lit(1L), lit(null).cast("long")),
          array(lit(3L), lit(4L))).as("nullelem"),
        Similarity.intDot(lit(null).cast("array<bigint>"),
          array(lit(3L))).as("nullside"))
      .head
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
  }

  test("QuantizeInt8Expr ≡ the three-HOF twin on real embeddings, incl. edges") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(Similarity.asDouble(col("embedding")).as("v"))
    val diff = e.select(
      Similarity.quantizeInt8(col("v")).as("native"),
      HofTwins.quantizeInt8Hof(col("v")).as("hof"))
      .where(not(col("native") <=> col("hof"))).count()
    assert(diff === 0)
    // edges: zero vector → zeros; empty → empty; all-null elements →
    // all-null codes; null element passes through; null array → null
    val edges = Seq(
      (Seq(0.0, 0.0), "zeros"),
      (Seq.empty[Double], "empty")).toDF("v", "tag")
      .select(col("tag"), col("v").cast("array<double>").as("v"))
      .select(col("tag"),
        Similarity.quantizeInt8(col("v")).as("native"),
        HofTwins.quantizeInt8Hof(col("v")).as("hof"))
    assert(edges.where(not(col("native") <=> col("hof"))).count() === 0)
    val nulls = spark.range(1).select(
      Similarity.quantizeInt8(array(lit(null).cast("double"),
        lit(null).cast("double"))).as("allnull"),
      HofTwins.quantizeInt8Hof(array(lit(null).cast("double"),
        lit(null).cast("double"))).as("allnull_hof"),
      Similarity.quantizeInt8(array(lit(2.0), lit(null).cast("double"),
        lit(-1.0))).as("mixed"),
      HofTwins.quantizeInt8Hof(array(lit(2.0), lit(null).cast("double"),
        lit(-1.0))).as("mixed_hof"),
      Similarity.quantizeInt8(lit(null).cast("array<double>")).as("nullarr"))
      .head
    assert(nulls.getSeq[Any](0) === nulls.getSeq[Any](1))
    assert(nulls.getSeq[Any](2) === nulls.getSeq[Any](3))
    assert(nulls.getSeq[Any](2) === Seq(127L, null, -63L))
    assert(nulls.isNullAt(4))
  }

  test("graft_dot mirrors zip_with null semantics on mismatched/null input") {
    val rows = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d)) AS mismatch,
        |  graft_dot(array(1.0d, cast(null as double)), array(3.0d, 4.0d)) AS nullelem,
        |  graft_dot(cast(null as array<double>), array(3.0d)) AS nullside""".stripMargin)
      .head
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.isNullAt(2))
  }

  test("graft_rolling_hash handles astral-plane characters like the HOF twin") {
    val r = Seq("a🙂b").toDF("text").select(
      HofTwins.rollingHashHof(col("text")).as("hof"),
      expr("graft_rolling_hash(text)").as("native")).head
    assert(r.getLong(0) === r.getLong(1))
  }

  test("native dot works inside SQL over registered views") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head.getDouble(0)
    assert(r === 11.0)
  }

  test("BloomProbeExpr ≡ BloomFilterMightContain on the same blob; no false negatives") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val blob = (1L to 1000L).toDF("k")
      .select(column(new BloomFilterAggregate(
          expression(xxhash64(col("k"))), Literal(1000L), Literal(16384L))
        .toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val bc = spark.sparkContext.broadcast(blob)
    val probes = (500L to 1500L).toDF("k").select(col("k"),
      column(graft.ext.expressions.BloomProbeExpr(bc,
        expression(xxhash64(col("k"))))).as("a"),
      column(BloomFilterMightContain(Literal.create(blob, BinaryType),
        expression(xxhash64(col("k"))))).as("b"))
    assert(probes.where(col("a") =!= col("b")).count() === 0)
    assert(probes.where(col("k") <= 1000L && !col("a")).count() === 0)
  }

  test("graft_hashed_shingles ≡ the transform/distinct/xxhash64 HOF chain on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(1, 3, 5)) {
      // null-SAFE comparison: a plain =!= would silently skip any row where
      // exactly one side is NULL — the divergence class under test
      val diff = docs.select(
        HofTwins.hashedWordShinglesHof(col("text"), n).as("hof"),
        Dedup.hashedWordShingles(col("text"), n).as("native"))
        .where(!(col("hof") <=> col("native"))).count()
      assert(diff === 0, s"n=$n")
    }
  }

  test("graft_minhash_sig ≡ the k-fold array_min/xxhash64 chain on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(1, 8, 16)) {
      val hashed = docs.select(Dedup.hashedWordShingles(col("text"), 3).as("sh"))
      val diff = hashed.select(
        HofTwins.minhashSignatureFastHof(col("sh"), k).as("hof"),
        Dedup.minhashSignatureFast(col("sh"), k).as("native"))
        .where(!(col("hof") <=> col("native"))).count()
      assert(diff === 0, s"k=$k")
    }
  }

  test("graft_md5_minhash ≡ the k-fold array_min/md5 chain on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (k <- Seq(1, 8, 16)) {
      val sh = docs.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      val diff = sh.select(
        HofTwins.minhashSignatureHof(col("sh"), k).as("hof"),
        Dedup.minhashSignature(col("sh"), k).as("native"))
        .where(!(col("hof") <=> col("native"))).count()
      assert(diff === 0, s"k=$k")
    }
    // the 60-bit projection law (conv(substring(hex,1,15),16,10)) on the
    // same corpus — truncation must commute with the digest minimum
    val diff60 = docs.select(
      HofTwins.minhashSignature60Hof(col("text"), 3, 16).as("hof"),
      Dedup.minhashSignature60(col("text"), 3, 16).as("native"))
      .where(!(col("hof") <=> col("native"))).count()
    assert(diff60 === 0)
  }

  test("graft_md5_minhash edge semantics match the twin: empty, null elem, null array, short doc") {
    val frames = Seq(
      (Some(Seq[Option[String]]()), "empty"),
      (Some(Seq[Option[String]](Some("abc def ghi"), None)), "nullelem"),
      (Option.empty[Seq[Option[String]]], "nullarr"))
      .toDF("sh", "label")
    val rows = frames.select(col("label"),
      HofTwins.minhashSignatureHof(col("sh"), 4).as("hof"),
      Dedup.minhashSignature(col("sh"), 4).as("native")).collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), r.getString(0))
      else assert(r.getSeq[Any](1) === r.getSeq[Any](2), r.getString(0))
    }
    // short doc (< shingleLen words) through the 60-bit text form: the
    // wordShingles guard yields the empty array → all-NULL signature
    val short = Seq("one two").toDF("text").select(
      HofTwins.minhashSignature60Hof(col("text"), 3, 4).as("hof"),
      Dedup.minhashSignature60(col("text"), 3, 4).as("native")).head
    assert(short.getSeq[Any](0) === short.getSeq[Any](1))
    // registered SQL surface
    val viaSql = spark.sql(
      "SELECT graft_md5_minhash(array('a b c'), 2) AS s, " +
        "graft_md5_minhash60(array('a b c'), 2) AS s60").head
    assert(viaSql.getSeq[String](0).forall(_.length == 32))
    assert(viaSql.getSeq[Long](1).forall(v => v >= 0L && v < (1L << 60)))
  }

  test("graft_minhash_sig edge semantics match the twin: empty, null elem, null array") {
    val frames = Seq(
      (Some(Seq[Option[Long]]()), "empty"),
      (Some(Seq[Option[Long]](Some(7L), None)), "nullelem"),
      (Option.empty[Seq[Option[Long]]], "nullarr"))
      .toDF("sh", "label")
    val rows = frames.select(col("label"),
      HofTwins.minhashSignatureFastHof(col("sh"), 4).as("hof"),
      Dedup.minhashSignatureFast(col("sh"), 4).as("native")).collect()
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(2), r.getString(0))
      else assert(r.getSeq[Any](1) === r.getSeq[Any](2), r.getString(0))
    }
  }

  test("graft_hashed_shingles edge semantics match the twin") {
    // short doc (< n words), exactly n words, repeated shingles (distinct),
    // empty string, unicode, and a NULL text
    val fixtures = Seq("ab", "one two three", "a b a b a b a b", "",
      "héllo wörld héllo wörld emoji 🙂 here").toDF("text")
    val rows = fixtures.select(
      HofTwins.hashedWordShinglesHof(col("text"), 3).as("hof"),
      Dedup.hashedWordShingles(col("text"), 3).as("native")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    // NULL text: the twin's wordShingles guard falls through to its
    // empty-array branch, never NULL — the native expression must match
    val nullRow = Seq(Option.empty[String]).toDF("text").select(
      HofTwins.hashedWordShinglesHof(col("text"), 3).as("hof"),
      Dedup.hashedWordShingles(col("text"), 3).as("native")).head
    assert(!nullRow.isNullAt(0) && nullRow.getSeq[Long](0).isEmpty)
    assert(!nullRow.isNullAt(1) && nullRow.getSeq[Long](1).isEmpty)
    // registered SQL surface
    val viaSql = spark.sql(
      "SELECT graft_hashed_shingles(array('a','b','c','d'), 3) AS sh")
      .head.getSeq[Long](0)
    assert(viaSql.length === 2) // "a b c", "b c d"
  }

  test("scrubSpans plans and runs codegen'd at the full maxGrams=10000 bound") {
    // 10,000 distinct probe 2-grams: the old per-gram replace FOLD built a
    // 10k-deep expression tree here (codegen method-limit fallback or a
    // planning stack overflow); the native expr carries the grams as data,
    // so the plan is one constant-size projection regardless of gram count
    val probes = spark.range(10000).select(
      concat(lit("pa"), col("id"), lit(" pb"), col("id")).as("text"))
    // range-backed (not a local Seq): a LocalRelation would be folded away
    // by ConvertToLocalRelation and never reach a codegen stage at all
    val docs = spark.range(2).select(col("id").as("doc_id"),
      when(col("id") === 1, lit("pa77 pb77 keep pa9999 pb9999"))
        .otherwise(lit("nothing here")).as("text"))
    val out = Decontaminate.scrubSpans(docs, "text", probes, "text", n = 2)
    assert(out.queryExecution.executedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]))
    val got = out.as[(Long, String)].collect().toMap
    assert(got(1L) === "[_] keep [_]")
    assert(got(0L) === "nothing here")
  }

  test("ScrubGramsExpr ≡ the sequential replace fold, order-sensitive overlaps included") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    val grams = Seq("x y", "y z", "w x") // overlapping: order changes the result
    val docs = Seq("w x y z tail", "", "no hits", "x yx y z").toDF("text")
    val native = GraftColumnBridge.column(graft.ext.expressions.ScrubGramsExpr(
      GraftColumnBridge.expression(col("text")), grams, "[_]"))
    val fold = grams.foldLeft(col("text"))((c, g) => replace(c, lit(g), lit("[_]")))
    val diff = docs.select(native.as("n"), fold.as("f"))
      .where(col("n") =!= col("f")).count()
    assert(diff === 0)
  }

  test("every registered graft_* kernel resolves and evaluates in SQL") {
    // the single registry drives BOTH registration routes (per-session
    // register() and the GraftExtensions injector), so this sweep also
    // guards the extensions path against a function silently missing
    val probes = Seq(
      "graft_rolling_hash('x')",
      "graft_dot(array(1.0d), array(2.0d))",
      "graft_int_dot(array(1L), array(2L))",
      "graft_quantize_int8(array(1.0d))",
      "graft_simhash(array(5L), 16)",
      "graft_hashed_shingles(array('a', 'b', 'c'), 2)",
      "graft_minhash_sig(array(5L, 7L), 4)",
      "graft_repetition(array('a', 'a', 'a'), 2)",
      "graft_nfc('x')",
      "graft_strip_accents('x')",
      "graft_greedy_chain(array(1L, 2L), array(array(1.0d), array(2.0d)))",
      "graft_wjaccard_merge(array(named_struct('t', 'a', 'w', 1.0d)), " +
        "array(named_struct('t', 'a', 'w', 1.0d)))")
    probes.foreach(e => spark.sql(s"SELECT $e").collect())
  }

  test("graft_sig_agree ≡ the zip_with/aggregate HOF count on every edge") {
    // equal, disjoint, partial, unequal lengths (zip_with null-pads), and
    // null elements (never count)
    val rows = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("x", "y")),
      (Seq("a", "b", "c", "d"), Seq("a", "x", "c")),
      (Seq("a"), Seq("a", "b", "c")),
      (Seq[String]("a", null, "c"), Seq("a", null, "c")),
      (Seq[String](), Seq("a")))
      .toDF("sa", "sb")
    val got = rows.select(
      HofTwins.sigAgreeHof(col("sa"), col("sb")).as("hof"),
      expr("graft_sig_agree(sa, sb)").as("native")).collect()
    got.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), s"sig_agree drift: $r")
    }
  }

  test("graft_wjaccard_merge ≡ the sorted-union HOF fold, bit for bit") {
    // adversarial token sets: unicode order, disjoint, identical, empty
    // side, 1/df-style irrational weights whose sum order matters at the
    // last ulp — the kernel must reproduce the HOF tree EXACTLY
    val rows = Seq(
      (Seq("alpha", "beta", "zz"), Seq("beta", "gamma")),
      (Seq("a"), Seq("b")),
      (Seq("x", "y"), Seq("x", "y")),
      (Seq("é", "é", "z"), Seq("é", "a")),
      (Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7"), Seq("t3", "t9")),
      (Seq[String](), Seq("only")),
      (Seq("p1204", "invoice", "acct1"), Seq("p1204", "brand#2", "economy")))
      .toDF("sa", "sb")
    val w = (t: org.apache.spark.sql.Column) =>
      lit(1.0) / (length(t).cast("double") * lit(3.0))
    def entries(arr: org.apache.spark.sql.Column) =
      array_sort(transform(arr, t => struct(t.as("t"), w(t).as("w"))))
    // build the pre-weighted sorted entry arrays the kernel consumes
    val prepared = rows
      .withColumn("ents_a", entries(col("sa")))
      .withColumn("ents_b", entries(col("sb")))
      .select(
        HofTwins.wjaccardHofReference(col("sa"), col("sb"), w).as("hof"),
        expr("graft_wjaccard_merge(ents_a, ents_b)").as("native"))
      .collect()
    prepared.foreach { r =>
      val hof = r.getDouble(0); val native = r.getDouble(1)
      assert(java.lang.Double.doubleToRawLongBits(hof) ===
        java.lang.Double.doubleToRawLongBits(native),
        s"wjaccard drift: hof=$hof native=$native")
    }
    assert(prepared.length === 7)
  }

  test("graft_strip_accents: NFD + mark removal; base letters survive; ASCII fast path") {
    val rows = Seq(
      "caf\u00e9",        // composed e-acute -> cafe
      "cafe\u0301",       // decomposed -> cafe
      "n\u00f6 n\u0303 \u00df \u00e6", // o-diaeresis, n-tilde strip; eszett/ae survive
      "plain ascii")
      .toDF("text")
    val got = rows.select(TextStats.stripAccents(col("text")).as("n"))
      .as[String].collect().toSeq
    assert(got === Seq("cafe", "cafe", "no n \u00df \u00e6", "plain ascii"))
    // SQL registration + null safety
    val r = spark.sql("SELECT graft_strip_accents('caf\u00e9'), graft_strip_accents(cast(null as string))").head
    assert(r.getString(0) === "cafe" && r.isNullAt(1))
  }

  test("graft_nfc composes decomposed sequences; identity on normalized text; null-safe") {
    val rows = Seq(
      "cafe\u0301",        // e + combining acute -> \u00e9
      "no\u0308el",        // o + combining diaeresis -> \u00f6
      "plain ascii",       // already normalized: untouched
      "",                  // empty
      "caf\u00e9")         // already composed: untouched
      .toDF("text")
    val got = rows.select(TextStats.normalizeNfc(col("text")).as("n"))
      .as[String].collect().toSeq
    val want = Seq("caf\u00e9", "n\u00f6el", "plain ascii", "", "caf\u00e9")
    assert(got === want)
    // code-point length shrinks by exactly the composed marks
    val lens = rows.select(length(TextStats.normalizeNfc(col("text"))))
      .as[Int].collect().toSeq
    assert(lens === Seq(4, 4, 11, 0, 4))
    // null propagates, not NPEs
    val n = Seq(Option.empty[String]).toDF("text")
      .select(TextStats.normalizeNfc(col("text"))).collect().head
    assert(n.isNullAt(0))
  }

  test("ScrubGramsExpr treats an empty gram as a no-op, like Spark's replace()") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    // Spark's replace(text, '', mask) is a no-op; Java's
    // String.replace("", mask) inserts the mask between every character.
    // An empty gram reaches the kernel whenever a probe text has a
    // leading/trailing/double space at n=1 (wordShingles keeps empty
    // tokens) — it must not corrupt the corpus.
    val grams = Seq("", "fox")
    val docs = Seq("the fox", "", "plain").toDF("text")
    val native = GraftColumnBridge.column(graft.ext.expressions.ScrubGramsExpr(
      GraftColumnBridge.expression(col("text")), grams, "[_]"))
    val fold = grams.foldLeft(col("text"))((c, g) => replace(c, lit(g), lit("[_]")))
    val rows = docs.select(native.as("n"), fold.as("f")).collect()
    rows.foreach(r => assert(r.getString(0) === r.getString(1)))
    assert(rows.map(_.getString(0)).toSeq === Seq("the [_]", "", "plain"))
  }
}
