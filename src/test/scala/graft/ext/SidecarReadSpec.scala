package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every served-store op opens its store once: one successful read of the
  * geometry sidecar per call, counted by [[CrashFs.opens]] over the whole
  * call, lazy actions included. A second read is a second roll-forward
  * check and a second parse (and, on a Dictionary store, a second lexicon
  * read) for nothing. */
class SidecarReadSpec extends SparkSpec {
  import spark.implicits._

  private def text(i: Long) = s"served store doc $i with words w${i % 7} and x$i"

  private lazy val docs = (1L to 20L).map(i => (i, text(i))).toDF("doc_id", "text")

  /** Five batch docs repeating the texts of store docs 1..5 under new ids. */
  private lazy val batch = (1L to 5L).map(i => (100L + i, text(i))).toDF("doc_id", "text")

  private lazy val vecs = (0L until 24L).map(i =>
    (i, Array.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
    .toDF("vec_id", "embedding")

  /** A banded store of two part files. */
  private def bandedStore(): String = {
    val dir = tmpDir("reads-banded")
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") <= 10).coalesce(1),
      "doc_id", "text", dir, numHashes = 8, cap = 2)
    Dedup.minhashStoreBandedAppendAt(spark, dir,
      docs.where(col("doc_id") > 10).coalesce(1), "doc_id", "text")
    dir
  }

  private def hnswStore(tombstoned: Seq[Long]): String = {
    val dir = tmpDir("reads-hnsw")
    Similarity.hnswSave(Similarity.hnswBuild(vecs, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1), dir,
      knnK = 4, bits = 2, m = 4, maxLevel = 1)
    if (tombstoned.nonEmpty)
      Similarity.hnswTombstoneAt(spark, dir, tombstoned.toDF("vec_id")): Unit
    dir
  }

  /** Successful reads of a geometry sidecar while `op` runs on `dir`. */
  private def sidecarReads(dir: String)(op: String => Unit): Int =
    CrashFs.opens(spark)(op(dir)).collect {
      case (p, n) if p.endsWith("/" + StoreMeta.FileName) => n
    }.sum

  private val ops: Seq[(String, () => String, String => Unit)] = Seq(
    ("nearDupAgainstBandedStoreAt", bandedStore _, dir =>
      Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch, "doc_id", "text")
        .collect(): Unit),
    ("minhashStoreBandedAppendAt", bandedStore _, dir =>
      Dedup.minhashStoreBandedAppendAt(spark, dir,
        (21L to 25L).map(i => (i, text(i))).toDF("doc_id", "text"),
        "doc_id", "text")),
    ("StoreMeta.compact", bandedStore _, dir =>
      assert(StoreMeta.compact(spark, dir) === 2L)),
    ("minhashStoreBandedDeleteAt", bandedStore _, dir =>
      assert(Dedup.minhashStoreBandedDeleteAt(spark, dir,
        Seq(3L).toDF("id")) > 0L)),
    ("fingerprintStoreDeleteAt", () => {
      val dir = tmpDir("reads-fp")
      Dedup.fingerprintStoreWrite((0L until 12L).map(i => (i, i * 1000L))
        .toDF("asset", "fp"), "asset", "fp", dir, "dhash-v1")
      dir
    }, dir => assert(Dedup.fingerprintStoreDeleteAt(spark, dir,
      Seq(1L, 5L).toDF("asset"), "dhash-v1") === 2L)),
    ("FuzzyJoin.linkageAgainstStore", bandedStore _, dir =>
      assert(FuzzyJoin.linkageAgainstStore(spark, dir, docs, "doc_id", "text",
        batch, "doc_id", "text").collect().nonEmpty)),
    ("FuzzyJoin.bestMatchAgainstStore", bandedStore _, dir =>
      assert(FuzzyJoin.bestMatchAgainstStore(spark, dir, docs, "doc_id",
        "text", batch, "doc_id", "text").collect().nonEmpty)),
    ("FuzzyJoin.censusAgainstStore", bandedStore _, dir =>
      assert(FuzzyJoin.censusAgainstStore(spark, dir, docs, "doc_id", "text",
        batch, "doc_id", "text").collect().nonEmpty)),
    ("FuzzyJoin.weightedLinkageAgainstStore", () => {
      val dir = tmpDir("reads-weighted")
      FuzzyJoin.weightedStoreWrite(docs, "doc_id", "text", dir)
      dir
    }, dir => assert(FuzzyJoin.weightedLinkageAgainstStore(spark, dir, docs,
      "doc_id", "text", batch, "doc_id", "text").collect().nonEmpty)),
    ("Similarity.hnswSearchPrebuiltAt", () => hnswStore(Seq(2L)), dir =>
      assert(Similarity.hnswSearchPrebuiltAt(spark, dir, vecs, "vec_id",
        "embedding", vecs.where(col("vec_id") < 3).select(col("vec_id")
          .as("query_id"), col("embedding")), "query_id", "embedding",
        k = 3, beamWidth = 6).collect().nonEmpty)),
    ("Similarity.hnswRebuildAt", () => hnswStore(Seq(2L, 9L)), dir =>
      assert(Similarity.hnswRebuildAt(spark, dir, vecs, "vec_id",
        "embedding") === 2L)))

  for ((name, store, op) <- ops)
    test(s"$name reads the store's sidecar exactly once") {
      val dir = store()
      assert(sidecarReads(dir)(op) === 1)
    }
}
