package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contracts of the data-recipe operators: [[Sampling.splitByCluster]]
  * (leakage-safe train/test split keyed on the near-dup cluster rep),
  * [[Sampling.epochMaterialize]] (fractional-epoch upsampling), and
  * [[TextStats.hashedLinearScore]] (fastText-shaped hashed linear
  * classifier inference), each pinned against a naive in-memory model.
  */
class RecipeSamplingSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def unitHashLocal(key: String, salt: String): Double =
    java.lang.Long.parseLong(md5hex(key + salt).substring(0, 8), 16)
      .toDouble / 4294967296.0

  // ──────────────────────── splitByCluster ────────────────────────────────

  private lazy val docs20 = (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
  private lazy val clusters = Seq(
    (1L, 1L), (2L, 1L), (3L, 1L), // cluster rep 1
    (10L, 10L), (11L, 10L) // cluster rep 10
  ).toDF("id", "rep")

  test("splitByCluster: rep = cluster rep for members, own id for singletons") {
    val out = Sampling.splitByCluster(docs20, "doc_id", clusters, 0.25, salt = "lkg")
      .select("doc_id", "rep").as[(Long, Long)].collect().toMap
    assert(out(2L) === 1L && out(3L) === 1L && out(11L) === 10L)
    assert(out(5L) === 5L && out(20L) === 20L, "singletons are their own rep")
  }

  test("splitByCluster: decision is the unit hash of the rep, so members agree") {
    val out = Sampling.splitByCluster(docs20, "doc_id", clusters, 0.25, salt = "lkg")
      .select("doc_id", "rep", "split").as[(Long, Long, String)].collect()
    out.foreach { case (_, rep, split) =>
      val expected = if (unitHashLocal(rep.toString, "lkg") < 0.25) "test" else "train"
      assert(split === expected)
    }
    val byRep = out.groupBy(_._2).values
    byRep.foreach(g => assert(g.map(_._3).distinct.size === 1,
      "every member of a cluster must share its rep's split"))
  }

  test("splitByCluster: fraction 0 puts everything in train, 1 in test") {
    assert(Sampling.splitByCluster(docs20, "doc_id", clusters, 0.0)
      .where(col("split") === "test").count() === 0L)
    assert(Sampling.splitByCluster(docs20, "doc_id", clusters, 1.0)
      .where(col("split") === "train").count() === 0L)
  }

  test("splitByCluster: refuses an input already carrying rep or split") {
    intercept[IllegalArgumentException] {
      Sampling.splitByCluster(docs20.withColumn("split", lit("x")),
        "doc_id", clusters, 0.25)
    }
    intercept[IllegalArgumentException] {
      Sampling.splitByCluster(docs20.withColumn("rep", lit(1L)),
        "doc_id", clusters, 0.25)
    }
  }

  test("splitByCluster: no minhash near-duplicate pair straddles the boundary") {
    // four verbatim-ish duplicate families + unrelated singletons
    val texts = (0 until 4).flatMap { f =>
      val base = s"family $f shares a long common passage about topic $f " +
        s"with enough words to shingle reliably end to end"
      Seq((f * 10L, base), (f * 10L + 1, base + " tail"), (f * 10L + 2, base))
    } ++ (100L to 110L).map(i =>
      (i, s"unique document $i about something entirely different number $i"))
    val df = texts.toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text")
    val cc = Dedup.duplicateClusters(pairs)
    val split = Sampling.splitByCluster(df, "doc_id", cc, 0.5, salt = "s")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val straddlers = pairs.select("a_id", "b_id").as[(Long, Long)].collect()
      .filter { case (a, b) => split(a) != split(b) }
    assert(pairs.count() > 0, "fixture must actually produce near-dup pairs")
    assert(straddlers.isEmpty, s"pairs across the split: ${straddlers.toSeq}")
  }

  // ──────────────────────── epochMaterialize ──────────────────────────────

  private lazy val corpus = (1L to 120L)
    .map(i => (i, s"src${(i % 4)}", s"text $i")).toDF("doc_id", "source", "text")

  test("epochMaterialize: default weight 1.0 is the identity with copy_no 1") {
    val out = Sampling.epochMaterialize(corpus, "source", "doc_id", Map.empty)
    assert(out.count() === 120L)
    assert(out.where(col("copy_no") =!= 1).count() === 0L)
  }

  test("epochMaterialize: integer weight repeats every row exactly w times") {
    val out = Sampling.epochMaterialize(corpus, "source", "doc_id",
      Map("src1" -> 3.0), defaultEpochs = 1.0)
    val perDoc = out.where(col("source") === "src1")
      .groupBy("doc_id").count().as[(Long, Long)].collect()
    assert(perDoc.nonEmpty && perDoc.forall(_._2 === 3L))
    assert(out.where(col("source") =!= "src1")
      .groupBy("doc_id").count().where(col("count") =!= 1).count() === 0L)
  }

  test("epochMaterialize: fractional part is the exact hash rule; copy_no dense from 1") {
    val out = Sampling.epochMaterialize(corpus, "source", "doc_id",
      Map("src2" -> 2.5, "src3" -> 0.75), salt = "ep")
    val perDoc = out.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max("copy_no").as("mx"), min("copy_no").as("mn"))
      .as[(Long, String, Long, Int, Int)].collect()
    perDoc.foreach { case (id, src, n, mx, mn) =>
      val e = src match { case "src2" => 2.5; case "src3" => 0.75; case _ => 1.0 }
      val expected = math.floor(e).toLong +
        (if (unitHashLocal(id.toString, "ep") < e - math.floor(e)) 1L else 0L)
      assert(n === expected, s"doc $id ($src)")
      assert(mn === 1 && mx.toLong === n, "copy_no must be dense 1..n")
    }
    // the 0.75 group actually thins (zero-copy rows are DROPPED, not [1,0])
    val src3Kept = perDoc.count(_._2 == "src3")
    val src3All = corpus.where(col("source") === "src3").count()
    assert(src3Kept < src3All, "sub-1.0 weight must drop some rows")
  }

  test("epochMaterialize: refuses an existing copy_no column and bad weights") {
    intercept[IllegalArgumentException] {
      Sampling.epochMaterialize(corpus.withColumn("copy_no", lit(1)),
        "source", "doc_id", Map.empty)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochMaterialize(corpus, "source", "doc_id", Map("src0" -> -0.5))
    }
  }

  // ──────────────────────── shard manifest ────────────────────────────────

  test("withShard: pure key function, in range, matching the local hash") {
    val out = Sampling.withShard(corpus, "doc_id", 16, salt = "sh")
      .select("doc_id", "shard_id").as[(Long, Int)].collect()
    out.foreach { case (id, sh) =>
      assert(sh >= 0 && sh < 16)
      assert(sh === math.floor(unitHashLocal(id.toString, "sh") * 16).toInt)
    }
  }

  test("shardManifest: totals add up and a dropped doc changes exactly its shard") {
    val docs = corpus.withColumn("n_tok",
      org.apache.spark.sql.functions.size(split(col("text"), " ")))
    val full = Sampling.shardManifest(docs, "doc_id", "n_tok", 16, salt = "sh")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(full.values.map(_._2).sum === 120L)
    val dropped = Sampling.shardManifest(docs.where(col("doc_id") =!= 7L),
      "doc_id", "n_tok", 16, salt = "sh")
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val shard7 = math.floor(unitHashLocal("7", "sh") * 16).toInt
    assert(dropped(shard7)._2 === full(shard7)._2 - 1)
    assert(dropped(shard7)._4 !== full(shard7)._4,
      "checksum must change when a doc goes missing")
    (full.keySet - shard7).foreach(k => assert(dropped.get(k) === Some(full(k)),
      s"untouched shard $k must keep its manifest row"))
  }

  // ──────────────────────── hashedLinearScore ─────────────────────────────

  private def naiveScore(text: String, dim: Int, salt: String): (Int, Long) = {
    val toks = text.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSeq
    val feats = toks ++
      (if (toks.size >= 2) toks.sliding(2).map(p => p(0) + "_" + p(1)).toSeq
       else Seq.empty)
    val score = feats.map { t =>
      val b = java.lang.Long.parseLong(md5hex(t + salt).substring(0, 8), 16) % dim
      (b * 1103515245L + 12345L) % 2001L - 1000L
    }.sum
    (feats.size, score)
  }

  test("hashedLinearScore equals the naive in-memory model, feature for feature") {
    val texts = Seq(
      "", " ", "one", "one two", "one  two   three",
      "The quick brown fox jumps over the lazy dog",
      "repeat repeat repeat repeat",
      "numbers 123 456 and punctuation, yes! even?",
      "MIXED Case TOKENS mixed case tokens")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextStats.hashedLinearScore(df, "doc_id", "text")
      .select("doc_id", "n_feats", "score_fp", "label")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    got.foreach { case (id, nf, score, label) =>
      val (en, es) = naiveScore(texts(id.toInt), 4096, "qc")
      assert(nf === en, s"n_feats for doc $id")
      assert(score === es, s"score_fp for doc $id")
      assert(label === (if (es > 0) 1 else 0))
    }
    // fixture sanity: both classes must actually occur
    assert(got.map(_._4).distinct.size === 2)
  }

  test("native kernel is bit-identical to the Column-chain twin on testdata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val native = TextStats.hashedLinearScore(docs, "doc_id", "text")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    val hof = HofTwins.hashedLinearScoreHof(docs, "doc_id", "text")
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1)
    assert(native.length === hof.length && native.length > 0)
    native.zip(hof).foreach { case (n, h) => assert(n === h) }
  }

  test("hashedLinearScore: n_feats is 2n-1 for n>=1 clean tokens, 0 for empty") {
    val df = Seq((1L, "a b c d"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val out = TextStats.hashedLinearScore(df, "doc_id", "text")
      .select("doc_id", "n_feats").as[(Long, Int)].collect().toMap
    assert(out(1L) === 7 && out(2L) === 1 && out(3L) === 0)
  }
}
