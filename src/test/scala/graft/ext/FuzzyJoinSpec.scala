package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-table record linkage ([[FuzzyJoin]]): banded-minhash candidates
  * verified by exact token-set Jaccard must equal the exhaustive-scan
  * ground truth wherever banding recall allows, best-match must be
  * deterministic under ties, the census must account for every left row
  * exactly once, and the bucket cap must drop degenerate buckets without
  * touching pairs that agree elsewhere. */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private val left = Seq(
    (1L, "acme heavy industries gmbh"),
    (2L, "northwind traders ltd"),
    (3L, "contoso pharmaceuticals inc"),
    (4L, "tailspin toys"),
    (5L, "")).toDF("id", "name")

  private val right = Seq(
    (101L, "acme heavy industries"),       // drops one token of 1 (J=3/4)
    (102L, "northwind traders limited"),   // swaps one token of 2 (J=2/4)
    (103L, "wingtip couriers"),            // matches nothing
    (104L, "acme heavy industries corp")   // second strong match for 1
  ).toDF("rid", "rname")

  private def brute(threshold: Double) = {
    val l = left.select(col("id"), Dedup.wordShingles(col("name"), 1).as("sl"))
      .where(size(col("sl")) > 0)
    val r = right.select(col("rid"), Dedup.wordShingles(col("rname"), 1).as("sr"))
      .where(size(col("sr")) > 0)
    l.crossJoin(r)
      .select(col("id"), col("rid"),
        (size(array_intersect(col("sl"), col("sr"))).cast("double") /
          (size(col("sl")) + size(col("sr")) -
            size(array_intersect(col("sl"), col("sr"))))).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("id"), col("rid"),
        round(col("jaccard"), 9).as("jaccard"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
      .toSet
  }

  test("linkage equals the exhaustive pair scan at high-recall settings") {
    // 16 seeds put banding recall at 1-(1-0.5)^16 per true pair; on this
    // tiny fixture every true pair shares a minimum somewhere, and the
    // assertion is exact equality against the brute-force scan
    val got = FuzzyJoin.linkage(left, "id", "name", right, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.5)
      .select(col("left_id"), col("right_id"),
        round(col("jaccard"), 9).as("jaccard"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
      .toSet
    assert(got === brute(0.5))
    assert(got.nonEmpty)
    // the empty-name left row can never appear
    assert(!got.exists(_._1 == 5L))
  }

  test("bestMatch is deterministic: ties break to the smallest right id") {
    // 101 and 104 both match left 1; construct a TIE by threshold choice:
    // J(1,101)=3/4, J(1,104)=3/5 — no tie here, so pin the tie case with
    // two identical right names instead
    val r2 = Seq((201L, "acme heavy industries"),
      (200L, "acme heavy industries")).toDF("rid", "rname")
    val best = FuzzyJoin.bestMatch(left, "id", "name", r2, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.5)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(3)))
    assert(best.toSeq === Seq((1L, 200L, 2L)))
    // and on the main fixture: left 1 keeps its highest-Jaccard match,
    // with the contested count carried
    val b1 = FuzzyJoin.bestMatch(left, "id", "name", right, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.5)
      .where(col("left_id") === 1L).collect()
    assert(b1.length === 1)
    assert(b1.head.getLong(1) === 101L)
    assert(b1.head.getLong(3) === 2L)
  }

  test("census accounts for every left row exactly once") {
    val census = FuzzyJoin.linkageCensus(left, "id", "name",
        right, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.5)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(census.values.sum === left.count())
    // left 1 has two matches (ambiguous); 2 has one (matched); 3, 4 and
    // the empty row have none (unmatched)
    assert(census === Map("ambiguous" -> 1L, "matched" -> 1L,
      "unmatched" -> 3L))
  }

  test("linkageAgainstStore equals in-memory linkage when the store cap " +
      "retains every representative") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-store")
      .toString
    Dedup.minhashStoreBandedWrite(right, "rid", "rname", dir,
      shingleLen = 1, numHashes = 16)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val served = key(FuzzyJoin.linkageAgainstStore(spark, dir,
      right, "rid", "rname", left, "id", "name", threshold = 0.5))
    val direct = key(FuzzyJoin.linkage(left, "id", "name",
      right, "rid", "rname", shingleLen = 1, numHashes = 16,
      threshold = 0.5))
    assert(served === direct)
    assert(served.nonEmpty)
    // a dir without a sidecar refuses loudly instead of assuming geometry
    val bare = java.nio.file.Files.createTempDirectory("graft-fuzzy-bare")
      .toString
    right.write.mode("overwrite").parquet(bare)
    val e = intercept[RuntimeException] {
      FuzzyJoin.linkageAgainstStore(spark, bare, right, "rid", "rname",
        left, "id", "name")
    }
    assert(e.getMessage.contains("_graft_store_meta"))
  }

  test("weightedLinkage: shared rare evidence dominates, shared stop " +
      "tokens count for nothing") {
    // every entity carries the stop token; only (1, 11) share rare content
    val l = Seq((1L, "corp zephyr"), (2L, "corp amber"), (3L, "corp coral"))
      .toDF("id", "name")
    val r = Seq((11L, "corp zephyr"), (12L, "corp umbra"))
      .toDF("rid", "rname")
    // unweighted Jaccard: EVERY cross pair shares 'corp' at 1/3 — a 0.3
    // threshold admits all six pairs
    val unweighted = FuzzyJoin.linkage(l, "id", "name", r, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.3)
      .count()
    assert(unweighted === 6)
    // weighted: df(corp) = 5 so w = 0.2; the unmatched rare tokens weigh
    // 0.5-1.0 each, so stop-token-only pairs score ~0.1 while the
    // identical-set pair scores exactly 1.0
    val weighted = FuzzyJoin.weightedLinkage(l, "id", "name",
        r, "rid", "rname", numHashes = 16, threshold = 0.3)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getDouble(2)))
    assert(weighted.map(w => (w._1, w._2)).toSet === Set((1L, 11L)))
    assert(weighted.head._3 === 1.0)
  }

  test("weightedLinkage rareDf: RECALL LAW — every pair sharing a token " +
      "with df <= rareDf is a candidate deterministically, so in the " +
      "rare-token regime the output equals the exhaustive weighted scan") {
    // the regime the weighting PROMOTES: each true pair shares exactly ONE
    // rare token buried in many common ones, so raw Jaccard is ~1/19 and
    // banding alone is a coin flip per pair — with rareDf the recall
    // guarantee is structural, and the assertion is exact equality with a
    // brute-force weighted computation over ALL cross pairs
    val common = (0 until 12).map(j => s"word$j").mkString(" ")
    val l = (0L until 30L).map(i => (i, s"$common rare$i"))
      .toDF("id", "name")
    val r = (0L until 30L).map(i =>
      (100L + i, s"filler alpha beta gamma delta epsilon rare$i"))
      .toDF("rid", "rname")
    def wkey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1),
        math.round(r0.getDouble(2) * 1e9))).toSet
    val got = wkey(FuzzyJoin.weightedLinkage(l, "id", "name",
      r, "rid", "rname", numHashes = 16, threshold = 0.4, rareDf = 2))
    // brute force: weighted Jaccard over every cross pair, same w=1/df law
    val lt = l.select(col("id"), Dedup.wordShingles(col("name"), 1).as("sl"))
    val rt = r.select(col("rid"), Dedup.wordShingles(col("rname"), 1).as("sr"))
    val vocab = lt.select(explode(col("sl")).as("t"))
      .unionByName(rt.select(explode(col("sr")).as("t")))
      .groupBy("t").agg(count(lit(1)).as("df"))
    val brute = wkey(lt.crossJoin(rt)
      .select(col("id"), col("rid"),
        explode(array_union(col("sl"), col("sr"))).as("t"),
        (array_contains(col("sl"), col("t")) &&
          array_contains(col("sr"), col("t"))).as("b"))
      .join(vocab, "t")
      .groupBy("id", "rid")
      .agg((sum(when(col("b"), lit(1.0) / col("df")).otherwise(0.0)) /
        sum(lit(1.0) / col("df"))).as("wj"))
      .where(col("wj") >= 0.4))
    assert(got === brute)
    assert(got.size === 30, "every rare-sharing pair must be recalled")
    // monotone: the rare channel only ADDS candidates over pure banding
    val pure = wkey(FuzzyJoin.weightedLinkage(l, "id", "name",
      r, "rid", "rname", numHashes = 16, threshold = 0.4))
    assert(pure.subsetOf(got))
    // the WEIGHTED SAMPLER finds the same regime with no deterministic
    // floor: integer-replication banding collides with probability ~ the
    // quantized weighted Jaccard (J_w of a true pair here ≈ 0.5, so a
    // 16-seed miss is ~2e-5 — and the fixture is a FIXED function of the
    // md5 law, so this either passes forever or never)
    val cws = wkey(FuzzyJoin.weightedLinkage(l, "id", "name",
      r, "rid", "rname", numHashes = 16, threshold = 0.4,
      weightedCandidates = 24))
    assert(cws === brute,
      "the weighted sampler must recall every promoted pair on this fixture")
    // ...while pure unweighted banding demonstrably misses some of them
    assert(pure.size < brute.size,
      "fixture must sit in the regime unweighted banding cannot cover")
  }

  test("weightedLinkageAgainstStore: frozen-vocabulary scoring is " +
      "batch-composition INVARIANT (the batch form is not), unseen " +
      "tokens weigh 1.0, and a wrong-kind store refuses") {
    val cat = Seq(
      (100L, "acme corp global trading"),
      (101L, "globex corp heavy industries"),
      (102L, "initech corp software services"),
      (103L, "umbrella corp bio research")).toDF("cid", "cname")
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-wstore")
      .toString
    FuzzyJoin.weightedStoreWrite(cat, "cid", "cname", dir,
      numHashes = 16, quantK = 24)
    def wkey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1),
        math.round(r0.getDouble(2) * 1e9))).toSet
    val a = Seq((1L, "acme global trading")).toDF("id", "name")
    val b = Seq((2L, "globex heavy industries"),
      (3L, "acme acme acme")).toDF("id", "name")
    def probe(batch: org.apache.spark.sql.DataFrame) = wkey(
      FuzzyJoin.weightedLinkageAgainstStore(spark, dir, cat, "cid",
        "cname", batch, "id", "name", threshold = 0.1))
    // SERVED law: probing A alone and A∪B give identical pair scores —
    // the frozen df cannot shift with what else rode the drop
    val together = probe(a.unionByName(b))
    assert(probe(a).subsetOf(together) && probe(b).subsetOf(together))
    assert((probe(a) ++ probe(b)) === together)
    // ...which the BATCH form violates on the same data (its df counts
    // batch entities, so adding entities shifts existing pairs' scores)
    val batchA = wkey(FuzzyJoin.weightedLinkage(a, "id", "name",
      cat, "cid", "cname", numHashes = 16, threshold = 0.1))
    val batchAB = wkey(FuzzyJoin.weightedLinkage(a.unionByName(b), "id",
      "name", cat, "cid", "cname", numHashes = 16, threshold = 0.1))
    assert(!batchA.subsetOf(batchAB),
      "fixture must demonstrate the batch form's score drift")
    // unseen-token law: 'zzz' is not in the catalog — it weighs 1.0 in
    // the union, so the score is exactly w(acme∩)/w(∪) with w(zzz) = 1
    val u = probe(Seq((9L, "acme corp zzz")).toDF("id", "name"))
      .filter(_._2 == 100L)
    assert(u.nonEmpty, "unseen tokens must not kill the probe")
    // operational forms reduce the same pair frame: top-1 by (score desc,
    // rid asc) with the contested count, and the three-way funnel census
    val best = FuzzyJoin.weightedBestMatchAgainstStore(spark, dir, cat,
        "cid", "cname", a.unionByName(b), "id", "name", threshold = 0.1)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1),
        math.round(r0.getDouble(2) * 1e9), r0.getLong(3))).toSet
    val manual = together.groupBy(_._1).map { case (l, ps) =>
      val top = ps.toSeq.sortBy(p => (-p._3, p._2)).head
      (l, top._2, top._3, ps.size.toLong)
    }.toSet
    assert(best === manual && best.nonEmpty)
    val census = FuzzyJoin.weightedCensusAgainstStore(spark, dir, cat,
        "cid", "cname", a.unionByName(b), "id", "name", threshold = 0.1)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    val nm = together.groupBy(_._1).view.mapValues(_.size).toMap
    assert(census.values.sum === 3L)
    assert(census.getOrElse("matched", 0L) === nm.count(_._2 == 1).toLong)
    assert(census.getOrElse("ambiguous", 0L) === nm.count(_._2 > 1).toLong)
    assert(census.getOrElse("unmatched", 0L) === (3 - nm.size).toLong)
    // wrong-kind store refuses loudly
    val banded = java.nio.file.Files.createTempDirectory("graft-fw-banded")
      .toString
    Dedup.minhashStoreBandedWrite(cat, "cid", "cname", banded,
      shingleLen = 1, numHashes = 8)
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.weightedLinkageAgainstStore(spark, banded, cat, "cid",
        "cname", a, "id", "name")
    }
    assert(e.getMessage.contains("not a weighted banded"))
  }

  test("bestMatchAgainstStore / censusAgainstStore equal their batch twins " +
      "when the store retains every representative") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-ops")
      .toString
    Dedup.minhashStoreBandedWrite(right, "rid", "rname", dir,
      shingleLen = 1, numHashes = 16)
    val servedBest = FuzzyJoin.bestMatchAgainstStore(spark, dir,
        right, "rid", "rname", left, "id", "name", threshold = 0.5)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(3)))
      .toSet
    val batchBest = FuzzyJoin.bestMatch(left, "id", "name",
        right, "rid", "rname", shingleLen = 1, numHashes = 16,
        threshold = 0.5)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(3)))
      .toSet
    assert(servedBest === batchBest)
    assert(servedBest.nonEmpty)
    val servedCensus = FuzzyJoin.censusAgainstStore(spark, dir,
        right, "rid", "rname", left, "id", "name", threshold = 0.5)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    val batchCensus = FuzzyJoin.linkageCensus(left, "id", "name",
        right, "rid", "rname", shingleLen = 1, numHashes = 16,
        threshold = 0.5)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(servedCensus === batchCensus)
    assert(servedCensus.values.sum === left.count())
  }

  test("linkageAgainstStore on a Dictionary store: a missing lexicon " +
      "refuses naming saveLexicon; the repair equals the batch twins, " +
      "another wordlist refuses") {
    val dict = Tokenizer.Dictionary(Seq("น้ำ", "กิน"))
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-tok")
      .toString
    Dedup.minhashStoreBandedWrite(right, "rid", "rname", dir,
      shingleLen = 1, numHashes = 16, tok = dict)
    // a store written before the lexicon sidecar shipped
    val lex = new org.apache.hadoop.fs.Path(dir, Tokenizer.LexiconFileName)
    lex.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lex, false): Unit
    val missing = intercept[RuntimeException] {
      FuzzyJoin.linkageAgainstStore(spark, dir, right, "rid", "rname",
        left, "id", "name")
    }
    assert(missing.getMessage.contains("saveLexicon"))
    Tokenizer.saveLexicon(spark, dir, dict)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    val served = key(FuzzyJoin.linkageAgainstStore(spark, dir,
      right, "rid", "rname", left, "id", "name", threshold = 0.5))
    val batch = key(FuzzyJoin.linkage(left, "id", "name", right, "rid",
      "rname", shingleLen = 1, numHashes = 16, threshold = 0.5, tok = dict))
    assert(served === batch)
    assert(served.nonEmpty)
    val best = FuzzyJoin.bestMatchAgainstStore(spark, dir,
        right, "rid", "rname", left, "id", "name", threshold = 0.5)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(3)))
      .toSet
    val batchBest = FuzzyJoin.bestMatch(left, "id", "name",
        right, "rid", "rname", shingleLen = 1, numHashes = 16,
        threshold = 0.5, tok = dict)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(3)))
      .toSet
    assert(best === batchBest && best.nonEmpty)
    val census = FuzzyJoin.censusAgainstStore(spark, dir,
        right, "rid", "rname", left, "id", "name", threshold = 0.5)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    val batchCensus = FuzzyJoin.linkageCensus(left, "id", "name",
        right, "rid", "rname", shingleLen = 1, numHashes = 16,
        threshold = 0.5, tok = dict)
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(census === batchCensus)
    // a repair with another wordlist hashes differently: refuse
    Tokenizer.saveLexicon(spark, dir, Tokenizer.Dictionary(Seq("น้ำ")))
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.linkageAgainstStore(spark, dir, right, "rid", "rname",
        left, "id", "name")
    }
    assert(e.getMessage.contains("drifted"))
  }

  test("streamed drops against the served store union to the batch result " +
      "(no cross-batch state: every left row links independently)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy-sstream")
      .toString
    Dedup.minhashStoreBandedWrite(right, "rid", "rname", dir,
      shingleLen = 1, numHashes = 16)
    val in = MemoryStream[(Long, String)]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val q = in.toDF().toDF("id", "name")
      .writeStream.trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        FuzzyJoin.linkageAgainstStore(spark, dir, right, "rid", "rname",
            df, "id", "name", threshold = 0.5)
          .collect().foreach(r => got.add((r.getLong(0), r.getLong(1)))): Unit
      }
    val rows = left.collect().map(r => (r.getLong(0), r.getString(1)))
    in.addData(rows.take(2).toSeq)
    in.addData(rows.drop(2).toSeq)
    q.start().awaitTermination()
    val batch = FuzzyJoin.linkageAgainstStore(spark, dir,
        right, "rid", "rname", left, "id", "name", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toArray(Array.empty[(Long, Long)]).toSet === batch)
    assert(batch.nonEmpty)
  }

  test("maxBucketSize drops a degenerate bucket but keeps pairs that " +
      "agree in an un-capped one") {
    // every row shares the stop token, so some buckets hold all rows; the
    // distinctive tokens keep true pairs alive in their own buckets
    val l = Seq((1L, "stop alpha beta"), (2L, "stop gamma delta"),
      (3L, "stop epsilon zeta")).toDF("id", "name")
    val r = Seq((11L, "stop alpha beta"), (12L, "stop theta iota"))
      .toDF("rid", "rname")
    val uncapped = FuzzyJoin.linkage(l, "id", "name", r, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.9)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(uncapped === Set((1L, 11L)))
    // cap = 2: the all-rows stop-token buckets (5 members) are dropped;
    // the (1, 11) pair still surfaces through its alpha/beta buckets
    val capped = FuzzyJoin.linkage(l, "id", "name", r, "rid", "rname",
        shingleLen = 1, numHashes = 16, threshold = 0.9,
        maxBucketSize = 2)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(capped === Set((1L, 11L)))
  }
}
