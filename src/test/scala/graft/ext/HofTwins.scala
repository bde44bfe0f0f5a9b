package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Higher-order-function twins of the native kernels: the portable
  * Column-expression laws each kernel replaced. NativeExprSpec,
  * FuzzyJoinSpec and RecipeSamplingSpec pin every kernel bit-identical to
  * its twin here. */
object HofTwins {

  /** Twin of [[Dedup.hashedWordShingles]]. */
  def hashedWordShinglesHof(text: Column, n: Int): Column =
    transform(Dedup.wordShingles(text, n), s => xxhash64(s))

  /** Twin of [[Dedup.minhashSignature]]. */
  def minhashSignatureHof(shingles: Column, k: Int): Column =
    array((1 to k).map { j =>
      array_min(transform(shingles, s => md5(concat(lit(s"$j:"), s))))
    }: _*)

  /** Twin of [[Dedup.minhashSignature60]]. */
  def minhashSignature60Hof(text: Column, shingleLen: Int, k: Int,
                            tok: Tokenizer = Tokenizer.Whitespace): Column =
    transform(minhashSignatureHof(Dedup.wordShingles(text, shingleLen, tok), k),
      s => conv(substring(s, 1, 15), 16, 10).cast("long"))

  /** Twin of [[Dedup.minhashSignatureFast]]. */
  def minhashSignatureFastHof(shingles: Column, k: Int): Column =
    array((1 to k).map { j =>
      array_min(transform(shingles, s => xxhash64(lit(j), s)))
    }: _*)

  /** Twin of the n-bit SimHash kernel
    * ([[graft.ext.expressions.SimHashExpr]]): one fold per bit. */
  def simhashNHof(hashes: Column, bits: Int): Column =
    (0 until bits).map { i =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Twin of the positional signature-agreement kernel
    * ([[graft.ext.expressions.SigAgreeExpr]]) of the store probes. */
  def sigAgreeHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  /** Twin of the weighted-Jaccard merge kernel
    * ([[graft.ext.expressions.WJaccardMergeExpr]]) of the weighted verify:
    * union entries (t, w, b = on both sides) sorted by token, then two
    * strict left folds from 0.0 in token order. Inputs are the two
    * per-entity token arrays plus the weight lookup applied per union
    * token (absent → 1.0). */
  def wjaccardHofReference(shLArr: Column, shRArr: Column,
                           wOf: Column => Column): Column = {
    val union = array_sort(array_union(shLArr, shRArr))
    val es = transform(union, t => struct(t.as("t"), wOf(t).as("w"),
      (array_contains(shLArr, t) && array_contains(shRArr, t)).as("b")))
    val sumW = (a: Column) => aggregate(a, lit(0.0),
      (acc, e) => acc + e.getField("w"))
    sumW(filter(es, e => e.getField("b"))) / sumW(es)
  }

  /** Twin of [[Similarity.dot]] (same op order). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Twin of [[Similarity.quantizeInt8]]: three HOFs per row. */
  def quantizeInt8Hof(v: Column): Column = {
    val maxabs = array_max(transform(v, x => abs(x)))
    when(maxabs === lit(0.0), transform(v, _ => lit(0L)))
      .otherwise(transform(v,
        x => floor(x * lit(127.0) / maxabs + lit(0.5)).cast("long")))
  }

  /** Twin of [[Similarity.intDot]]. */
  def intDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Twin of [[TextStats.rollingHash]]. */
  def rollingHashHof(text: Column): Column = {
    val folded = aggregate(
      sequence(lit(1), length(text)),
      lit(0L),
      (acc, i) => (acc * 31 + ascii(substr(text, i, lit(1)))) % lit(1000000007L))
    when(length(text) === 0, 0L).otherwise(folded)
  }

  /** Twin of [[TextStats.hashedLinearScore]]: HOF `aggregate` over the
    * md5/conv string chain. */
  def hashedLinearScoreHof(df: DataFrame, idCol: String, textCol: String,
                           dim: Int = 4096, salt: String = "qc"): DataFrame = {
    require(dim > 0, s"feature dimension must be positive: $dim")
    val feats = TextStats.classifierFeats(col(textCol))
    def weightOf(t: Column): Column = {
      val bucket = conv(substring(md5(concat(t, lit(salt))), 1, 8), 16, 10)
        .cast("long") % dim
      (bucket * 1103515245L + 12345L) % 2001L - 1000L
    }
    df.select(col(idCol), feats.as("_f"))
      .select(col(idCol),
        size(col("_f")).as("n_feats"),
        aggregate(col("_f"), lit(0L), (acc, t) => acc + weightOf(t))
          .as("score_fp"))
      .withColumn("label", when(col("score_fp") > 0, 1).otherwise(0))
  }
}
