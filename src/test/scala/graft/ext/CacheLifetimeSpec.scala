package graft.ext

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus

/** The cache-lifetime rule of [[CacheScope]], checked for every public
  * operator that persists. Scope-less: once the first action over the
  * result has completed and the listener bus is drained, no RDD the call
  * persisted is still persisted. Scoped: that action releases nothing, and
  * `close(blocking = true)` releases everything the call persisted. The
  * final star-rounds checkpoint is the one documented exception. A second
  * check keeps the scope branches in one file. */
class CacheLifetimeSpec extends SparkSpec {
  import spark.implicits._

  /** One table row: `run` builds the operator's result under the given
    * scope (null for none); `scoped` is false for operators without a
    * scope parameter; `holds` is false where a scoped call persists
    * nothing at fixture size (the driver union-find, broadcast-only
    * operators, a batch small enough to pin locally). Entry points that
    * only pass their scope on to another row's operator have no row of
    * their own: the FuzzyJoin best-match and census forms,
    * `graphTopKFiltered` and `hnswSearchPrebuiltAt`. */
  private case class Op(name: String, run: CacheScope => DataFrame,
                        scoped: Boolean = true, holds: Boolean = true)

  /** Ids of persisted RDDs that submitted stages read or build. */
  private lazy val cachedInStages =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]
  private lazy val recorder = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
        .foreach(r => cachedInStages.add(r.id))
  }
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(recorder)
  }
  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(recorder)
    super.afterAll()
  }

  /** A frame's rows as a local relation: fixtures other rows read. */
  private def local(df: DataFrame): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** RDD ids only grow, so every RDD a call creates has an id above a mark
    * taken before it. */
  private def mark(): Int = spark.sparkContext.emptyRDD[Int].id
  private def persistedSince(m: Int): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.filter(_ > m).toSet
  private def drain(): Unit = ListenerBus.drain(spark)

  // ── fixtures ─────────────────────────────────────────────────────────
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
  private lazy val docs = ((1L to 6L).map(i => (i, base + s"lambda mu w$i")) ++
    (7L to 12L).map(i => (i, s"unrelated text number $i about topic t$i " * 2)))
    .toDF("doc_id", "text")
  private lazy val sig = Seq(
    (1L, Seq("x", "y", "q1")), (2L, Seq("x", "y", "q2")),
    (3L, Seq("x", "z", "q3"))).toDF("doc_id", "sig")
  private lazy val fps = Seq((1L, 0x0F0FL), (2L, 0x0F0EL), (3L, 0x7000L),
    (4L, 0x0F0FL)).toDF("id", "simhash")
  private lazy val chain = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
  private lazy val left = Seq((1L, "acme heavy industries gmbh"),
    (2L, "northwind traders ltd"), (3L, "tailspin toys")).toDF("id", "name")
  private lazy val right = Seq((101L, "acme heavy industries"),
    (102L, "northwind traders limited"), (103L, "wingtip couriers"))
    .toDF("rid", "rname")
  private lazy val bandedDir = {
    val d = tmpDir("lifetime-banded")
    Dedup.minhashStoreBandedWrite(right, "rid", "rname", d, shingleLen = 1)
    d
  }
  private lazy val weightedDir = {
    val d = tmpDir("lifetime-weighted")
    FuzzyJoin.weightedStoreWrite(right, "rid", "rname", d)
    d
  }
  private lazy val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
    .toDF("vec_id", "embedding")
  private lazy val queries = vecs.where(col("vec_id") < 3)
  private lazy val graph = local(Similarity.knnGraph(vecs, "vec_id",
    "embedding", k = 4, bits = 2).select(col("id"), col("nbr_id")))
  private lazy val oldVecs = vecs.where(col("vec_id") < 30)
  private lazy val newVecs = vecs.where(col("vec_id") >= 30)
  private lazy val oldGraph = local(Similarity.knnGraph(oldVecs, "vec_id",
    "embedding", k = 4, bits = 2))
  private lazy val index = local(Similarity.hnswBuild(vecs, "vec_id",
    "embedding", knnK = 4, bits = 2, m = 4, maxLevel = 1))
  private lazy val oldIndex = local(Similarity.hnswBuild(oldVecs, "vec_id",
    "embedding", knnK = 4, bits = 2, m = 4, maxLevel = 1))
  private lazy val hist = docs.where(col("doc_id") <= 3)
    .select(md5(lower(col("text"))).as("fingerprint"))
  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    .toDF("src", "dst")
  private lazy val frames = (for (a <- 1L to 3L; f <- 0 until 4)
    yield (a, f, if (a == 3L) 0x55AA55AAL * (f + 1) else 0x0123456789L * (f + 1)))
    .toDF("asset_id", "frame_no", "dhash")
  private lazy val assets = (0L until 3L).map(i => Multimodal.RawAsset(i,
    "image", Multimodal.syntheticPhotoPayload(i % 2, noise = i.toInt))).toDS()

  private lazy val ops: Seq[Op] = Seq(
    // Dedup
    Op("lshCandidates", s => Dedup.lshCandidates(sig, "doc_id", "sig",
      maxBucketSize = 2, scope = s)),
    Op("nearDuplicates", s => Dedup.nearDuplicates(docs, "doc_id", "text",
      threshold = 0.3, scope = s)),
    Op("nearDuplicatesFast", s => Dedup.nearDuplicatesFast(docs, "doc_id",
      "text", maxBucketSize = Dedup.AdaptiveBucket, scope = s)),
    Op("verifyPairs", s => Dedup.verifyPairs(
      Seq((1L, 2L), (1L, 7L)).toDF("a_id", "b_id"), docs, "doc_id", "text",
      threshold = 0.3, scope = s)),
    Op("bandedHammingPairs", s => Dedup.bandedHammingPairs(fps, "id",
      nBands = 4, bandBits = 4, maxHamming = 2, scope = s)),
    Op("hammingPairs64", s => Dedup.hammingPairs64(
      fps.withColumnRenamed("simhash", "fp"), "id", "fp", scope = s)),
    Op("simhashPairs", s => Dedup.simhashPairs(docs, "doc_id", "text",
      scope = s)),
    Op("simhashPairsWide", s => Dedup.simhashPairsWide(docs, "doc_id", "text",
      scope = s)),
    Op("prefixJaccardPairs", s => Dedup.prefixJaccardPairs(docs, "doc_id",
      "text", scope = s)),
    Op("duplicateClusters", s => Dedup.duplicateClusters(chain, scope = s),
      holds = false),
    Op("newAgainstHistory", s => Dedup.newAgainstHistory(
      docs.withColumn("fp", md5(col("text"))),
      docs.where(col("doc_id") < 4).select(md5(col("text")).as("fp")), "fp",
      scope = s), holds = false),
    Op("containmentPairs", _ => Dedup.containmentPairs(docs, "doc_id", "text",
      sampleMod = 1), scoped = false),
    Op("substringDupSpans", _ => Dedup.substringDupSpans(
      docs.where(col("doc_id") <= 2), "doc_id", "text", minLen = 4),
      scoped = false),
    Op("nearDupAgainstStore", _ => Dedup.nearDupAgainstStore(
      Dedup.minhashStore(docs, "doc_id", "text"), docs, "doc_id", "text",
      maxBucketSize = Dedup.AdaptiveBucket), scoped = false),
    // FuzzyJoin
    Op("linkage", s => FuzzyJoin.linkage(left, "id", "name", right, "rid",
      "rname", scope = s)),
    Op("weightedLinkage", s => FuzzyJoin.weightedLinkage(left, "id", "name",
      right, "rid", "rname", threshold = 0.1, rareDf = 1, scope = s)),
    Op("linkageAgainstStore", s => FuzzyJoin.linkageAgainstStore(spark,
      bandedDir, right, "rid", "rname", left, "id", "name", scope = s)),
    Op("weightedLinkageAgainstStore", s =>
      FuzzyJoin.weightedLinkageAgainstStore(spark, weightedDir, right, "rid",
        "rname", left, "id", "name", threshold = 0.1, scope = s)),
    // Similarity
    Op("knnGraphAppend", s => Similarity.knnGraphAppend(oldVecs, oldGraph,
      newVecs, "vec_id", "embedding", k = 4, beamWidth = 6, hops = 1,
      entryMod = 1, scope = s), holds = false),
    Op("graphTopK", s => Similarity.graphTopK(vecs, "vec_id", "embedding",
      graph, queries, "vec_id", "embedding", k = 3, beamWidth = 6, hops = 1,
      entryMod = 4, scope = s)),
    Op("hnswTopK", s => Similarity.hnswTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, beamWidth = 6, knnK = 4,
      bits = 2, m = 4, maxLevel = 1, baseHops = 1, scope = s)),
    Op("hnswSearchPrebuilt", s => Similarity.hnswSearchPrebuilt(vecs,
      "vec_id", "embedding", index, queries, "vec_id", "embedding", k = 3,
      beamWidth = 6, m = 4, maxLevel = 1, baseHops = 1, scope = s)),
    Op("lexicalCosinePairs", s => Similarity.lexicalCosinePairs(docs,
      "doc_id", "text", maxDf = 8, threshold = 0.2, scope = s)),
    Op("marginMine", _ => Similarity.marginMine(
      Similarity.bruteForceTopK(vecs.where(col("vec_id") % 2 === 1),
        vecs.where(col("vec_id") % 2 === 0), "vec_id", "embedding", k = 3),
      Similarity.bruteForceTopK(vecs.where(col("vec_id") % 2 === 0),
        vecs.where(col("vec_id") % 2 === 1), "vec_id", "embedding", k = 3),
      minMargin = 0.8), scoped = false),
    Op("mmrRerank", _ => Similarity.mmrRerank(vecs, queries, "vec_id",
      "embedding", kCand = 4, kSel = 2), scoped = false),
    Op("kmeansAssignPortable", _ => Similarity.kmeansAssignPortable(vecs,
      "vec_id", "embedding", k = 3, updates = 1), scoped = false),
    Op("hnswBuild", _ => Similarity.hnswBuild(vecs, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1), scoped = false),
    Op("hnswAppend", _ => Similarity.hnswAppend(oldVecs, oldIndex, newVecs,
      "vec_id", "embedding", knnK = 4, bits = 2, beamWidth = 6, hops = 1,
      m = 4, maxLevel = 1, entryMod = 1), scoped = false),
    // TextStats
    Op("corpusFrequencyScore", s => TextStats.corpusFrequencyScore(docs,
      "doc_id", "text", scope = s)),
    Op("lmScore", s => TextStats.lmScore(docs, "doc_id", "text",
      tmpDir("lifetime-lm") + "/absent.tsv", scope = s)),
    Op("bigramBackoffScore", s => TextStats.bigramBackoffScore(docs, "doc_id",
      "text", maxBroadcast = Long.MaxValue, scope = s)),
    Op("trigramBackoffScore", s => TextStats.trigramBackoffScore(docs,
      "doc_id", "text", maxBroadcast = Long.MaxValue, scope = s)),
    Op("knTrigramScore", s => TextStats.knTrigramScore(docs, "doc_id", "text",
      maxBroadcast = Long.MaxValue, scope = s)),
    // the rest of the catalog's persisting operators
    Op("Dsir.resampleTopFraction", s => Dsir.resampleTopFraction(docs,
      "doc_id", "text", docs.where(col("doc_id") <= 6), frac = 0.5,
      nBuckets = 64, scope = s)),
    Op("BloomJoin.prefilteredEquiJoin", s => BloomJoin.prefilteredEquiJoin(
      docs, docs.where(col("doc_id") < 4).select("doc_id"), "doc_id",
      scope = s), holds = false),
    Op("Curation.curate", s => Curation.curate(docs, "doc_id", "text",
      Curation.Config(minTokens = 5, history = Some(hist)), s)),
    Op("Curation.funnel", s => Curation.funnel(docs, "doc_id", "text",
      Curation.Config(minTokens = 5, history = Some(hist)), s)),
    Op("Graph.pageRankExact", s => Graph.pageRankExact(edges, "src", "dst",
      iters = 2, scope = s)),
    Op("Graph.triangleStats", _ => Graph.triangleStats(edges, "src", "dst"),
      scoped = false),
    Op("Multimodal.videoNearDupPairs", s => Multimodal.videoNearDupPairs(
      frames, scope = s)),
    Op("Multimodal.videoNearDupShifted", s => Multimodal.videoNearDupShifted(
      frames, minMatched = 1, scope = s)),
    Op("Multimodal.imageDedupSurvivors", s => Multimodal.imageDedupSurvivors(
      assets, scope = s)))

  for (op <- ops) {
    test(s"${op.name} without a scope keeps no cache after its first action") {
      val m = mark()
      op.run(null).collect()
      drain()
      val kept = persistedSince(m)
      assert(kept.isEmpty, s"still persisted: $kept")
    }
    if (op.scoped) test(s"${op.name} with a scope holds its caches until close") {
      val m = mark()
      val scope = new CacheScope
      val out = op.run(scope)
      drain()
      cachedInStages.clear()
      out.collect()
      drain()
      val read = cachedInStages.toArray.map(_.asInstanceOf[Integer].intValue)
        .filter(_ > m).toSet
      val held = persistedSince(m)
      assert((read -- held).isEmpty, s"released by the first action: ${read -- held}")
      if (op.holds) assert(held.nonEmpty, "nothing persisted")
      scope.close(blocking = true)
      val kept = persistedSince(m)
      assert(kept.isEmpty, s"still persisted after close: $kept")
    }
  }

  test("the one exception: a scope-less connectedComponentsStar keeps its " +
      "final checkpoint") {
    val m = mark()
    val labels = Dedup.connectedComponentsStar(chain)
    assert(labels.collect().length === 3)
    drain()
    val kept = persistedSince(m)
    assert(kept.size === 1, s"persisted: $kept")
    // no lineage: a second action still reads the checkpoint
    assert(labels.collect().length === 3)
    kept.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(true))
  }

  test("connectedComponentsStar with a scope holds its checkpoint until close") {
    val m = mark()
    val scope = new CacheScope
    assert(Dedup.connectedComponentsStar(chain, scope = scope)
      .collect().length === 3)
    drain()
    assert(persistedSince(m).size === 1)
    scope.close(blocking = true)
    assert(persistedSince(m).isEmpty)
  }

  test("scope branches live only in CacheScope.scala") {
    val forbidden = Seq("scope == null", "scope != null", "AfterFirstAction",
      "onFirstAction")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(new java.io.File("src/main/scala"))
      if f.getName.endsWith(".scala") && f.getName != "CacheScope.scala"
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath,
        java.nio.charset.StandardCharsets.ISO_8859_1).toArray.zipWithIndex
      if forbidden.exists(line.toString.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.toString.trim}"
    assert(files(new java.io.File("src/main/scala")).nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
