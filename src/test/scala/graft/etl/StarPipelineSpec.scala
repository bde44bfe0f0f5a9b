package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden end-to-end star build: dims/fact/SKEY integrity + idempotency
  * (SURVEY §5 item 3; FIXTURES.md §2). */
class StarPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def rawBatch1 = Seq(
    ("2017-01-11T00:00:53.000Z", "news| Shark attacks spearfisherman", "127,206"),
    ("2017-01-11T00:00:59.000Z", "news| Shark attacks spearfisherman", "206"), // same minute → one dim row
    ("2017-01-11T00:02:00.000Z", "iPhone|Clips|Some Video", "206"),
    ("2017-01-11T00:02:02.000Z", "JustOnePiece", "206"),                       // dropped
    ("2017-01-11T00:02:01.000Z", "Android|Clips|V", "1206,101")                // dropped (no exact 206)
  ).toDF("DateTime", "VideoTitle", "events")

  private def rawBatch2 = Seq(
    ("2017-01-11T00:05:00.000Z", "9news|Local|V3", "101,206"),                 // new everything
    ("2017-01-11T00:00:53.000Z", "news| Shark attacks spearfisherman", "127,206") // replay of batch-1 row
  ).toDF("DateTime", "VideoTitle", "events")

  test("batch build: dim uniqueness, fact count, FK integrity, idempotent dims") {
    val root = tmpDir("graft-star")
    val store = StarStore(spark, root)

    assert(store.runBatch(rawBatch1, "b1") === 3)
    // dims: distinct natural keys, unique skeys
    assert(store.dimDate.count() === 2)      // minutes 00:00 and 00:02
    assert(store.dimPlatform.select("PLATFORM").as[String].collect().toSet
      === Set("Desktop", "iPhone"))
    assert(store.dimSite.select("SITE").as[String].collect().toSet
      === Set("news", Fact.NoneMember))      // NULL site → designated member
    val skeys = store.dimPlatform.select("PLATFORM_SKEY").as[Long].collect()
    assert(skeys.toSet.size === skeys.length && skeys.min === 1L)

    // fact: 3 rows, zero orphan SKEYs (total join — no NULL keys)
    val fact = store.fact
    assert(fact.count() === 3)
    assert(fact.where($"DATETIME_SKEY".isNull || $"PLATFORM_SKEY".isNull ||
      $"SITE_SKEY".isNull || $"TITLE_SKEY".isNull).count() === 0)
    assert(fact.select("factid").as[Long].collect().toSet === Set(1L, 2L, 3L))

    // batch 2: dims grow only by genuinely-new members; existing skeys stable
    val platSkeyBefore = store.dimPlatform.where($"PLATFORM" === "iPhone")
      .select("PLATFORM_SKEY").as[Long].head()
    assert(store.runBatch(rawBatch2, "b2") === 2)
    assert(store.dimSite.select("SITE").as[String].collect().toSet
      === Set("news", "9news", Fact.NoneMember))
    val platSkeyAfter = store.dimPlatform.where($"PLATFORM" === "iPhone")
      .select("PLATFORM_SKEY").as[Long].head()
    assert(platSkeyBefore === platSkeyAfter) // SKEY stability across batches
    assert(store.fact.count() === 5)
    assert(store.dimDate.count() === 3)

    // replaying an already-published batch id is a no-op (exactly-once on
    // top of at-least-once redelivery)
    assert(store.runBatch(rawBatch2, "b2") === 0)
    assert(store.fact.count() === 5)
    // factids stay unique and contiguous across batches
    val ids = store.fact.select("factid").as[Long].collect().sorted
    assert(ids.toSeq === (1L to 5L))

    // compaction: one live dir afterwards, same rows, replay still guarded
    assert(store.compact() === 2) // two deltas merged
    assert(store.fact.count() === 5)
    assert(store.runBatch(rawBatch1, "b1") === 0) // applied history survives
    assert(store.fact.count() === 5)
    assert(store.compact() === 0) // already compact → no-op

    // SQL surface over the published star
    store.registerViews()
    val perPlatform = spark.sql(
      """SELECT p.PLATFORM, count(*) AS n
        |FROM fact_videostart f JOIN dim_platform p USING (PLATFORM_SKEY)
        |GROUP BY p.PLATFORM ORDER BY p.PLATFORM""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(perPlatform("Desktop") === 4L && perPlatform("iPhone") === 1L)
  }

  test("schema evolution: a later batch ADDS a nullable column — old " +
      "deltas null-fill on the live read, the pre-evolution snapshot " +
      "stays readable via time travel, add-only violations throw, and " +
      "compaction carries the contract") {
    val root = tmpDir("graft-schema-ev")
    val store = StarStore(spark, root, Int.MaxValue, 3)
    assert(store.runBatch(rawBatch1, "e1") === 3)

    // batch 2 evolves the schema: REGION rides the raw rows into the fact
    val raw2 = rawBatch2.withColumn("REGION",
      concat(lit("r"), (length(col("VideoTitle")) % 3).cast("string")))
    assert(store.runBatch(raw2, "e2", Seq("REGION")) === 2)

    // live read: all 5 rows; batch 1's delta null-fills REGION
    val f = store.fact
    assert(f.columns.contains("REGION"))
    assert(f.count() === 5)
    assert(f.where(col("REGION").isNotNull).count() === 2)

    // the PRE-evolution snapshot is readable under its own schema
    val vs = store.versions
    assert(vs.length === 2)
    val v1 = store.readVersion("fact", vs.head)
    assert(!v1.columns.contains("REGION"),
      "pre-evolution snapshot must keep its published schema")
    assert(v1.count() === 3)
    assert(store.readVersion("fact", vs.last).count() === 5)

    // add-only: a batch missing a published column refuses loudly
    val missing = intercept[RuntimeException] {
      store.runBatch(rawBatch1.withColumn("DateTime",
        regexp_replace(col("DateTime"), "T00:00", "T00:07")), "e3")
    }
    assert(missing.getMessage.contains("ADD-ONLY"))
    // ... and a type change on a published column refuses too
    val retyped = intercept[Exception] {
      store.runBatch(raw2.withColumn("REGION", lit(7L))
        .withColumn("DateTime",
          regexp_replace(col("DateTime"), "T00:05", "T00:08")),
        "e4", Seq("REGION"))
    }
    assert(retyped.getMessage.contains("changed type"))

    // a second evolution stacks: SOURCE joins REGION
    val raw3 = raw2
      .withColumn("DateTime", regexp_replace(col("DateTime"), "T00:0", "T00:1"))
      .withColumn("SOURCE", lit("feed-a"))
    assert(store.runBatch(raw3, "e5", Seq("REGION", "SOURCE")) === 2)
    assert(store.fact.count() === 7)
    assert(store.fact.where(col("SOURCE").isNull).count() === 5)

    // compaction materializes the reconciled frame; the contract survives
    assert(store.compact() === 3)
    val compacted = store.fact
    assert(compacted.count() === 7)
    assert(compacted.where(col("REGION").isNotNull).count() === 4)
    assert(compacted.where(col("SOURCE").isNotNull).count() === 2)
  }

  test("schema evolution widens losslessly: INT->LONG upgrades the " +
      "recorded type and up-casts the old delta; narrowing and " +
      "cross-family retypes refuse") {
    val root = tmpDir("graft-schema-widen")
    val store = StarStore(spark, root, Int.MaxValue, 3)
    val raw1 = rawBatch1.withColumn("HITS", lit(7).cast("int"))
    assert(store.runBatch(raw1, "w1", Seq("HITS")) === 3)
    assert(store.fact.schema("HITS").dataType ===
      org.apache.spark.sql.types.IntegerType)

    // widen INT -> LONG: accepted, manifest records LONG, old delta casts
    val raw2 = rawBatch2.withColumn("HITS", lit(9000000000L))
    assert(store.runBatch(raw2, "w2", Seq("HITS")) === 2)
    val f = store.fact
    assert(f.schema("HITS").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(f.count() === 5)
    assert(f.groupBy().sum("HITS").as[Long].head() ===
      3L * 7 + 2L * 9000000000L)
    // pre-widening snapshot keeps INT via time travel
    assert(store.readVersion("fact", store.versions.head)
      .schema("HITS").dataType === org.apache.spark.sql.types.IntegerType)

    // narrowing LONG -> INT refuses
    def bump(df: org.apache.spark.sql.DataFrame, from: String, to: String) =
      df.withColumn("DateTime", regexp_replace(col("DateTime"), from, to))
    val narrow = intercept[Exception] {
      store.runBatch(bump(raw1, "T00:0", "T00:2"), "w3", Seq("HITS"))
    }
    assert(narrow.getMessage.contains("only lossless widening"))
    // cross-family INT-chain -> DOUBLE refuses too
    val cross = intercept[Exception] {
      store.runBatch(bump(raw1, "T00:0", "T00:3")
        .withColumn("HITS", lit(1.5)), "w4", Seq("HITS"))
    }
    assert(cross.getMessage.contains("only lossless widening"))
  }

  test("incremental: extras + an evolved raw schema flow through the " +
      "stream into the fact (continuous schema evolution)") {
    val stage = tmpDir("graft-stage-ev")
    val root = tmpDir("graft-star-inc-ev")
    val ckpt = tmpDir("graft-ckpt-ev")
    def drop(name: String, header: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$stage/$name"),
        (header +: rows).mkString("\n"))
    // phase 1: the reference schema, no extras
    drop("f1.csv", "DateTime,VideoTitle,events",
      Seq("2017-01-11T00:00:53.000Z,news| Shark attack, \"127,206\""))
    Incremental.run(spark, stage, root, ckpt).awaitTermination()
    assert(StarStore(spark, root).fact.count() === 1)
    // phase 2: the feed evolved — REGION lands in stage files, the caller
    // names it and ships the widened schema; a fresh checkpoint+stage dir
    // (a schema change is a new stream contract, the file source cannot
    // re-infer mid-checkpoint)
    val stage2 = tmpDir("graft-stage-ev2")
    val ckpt2 = tmpDir("graft-ckpt-ev2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$stage2/f2.csv"),
      Seq("DateTime,VideoTitle,events,REGION",
        "2017-01-11T00:05:00.000Z,iPhone|Clips|V, \"206\",emea")
        .mkString("\n"))
    val evolved = org.apache.spark.sql.types.StructType(
      RawSchemas.raw.fields :+ org.apache.spark.sql.types.StructField(
        "REGION", org.apache.spark.sql.types.StringType))
    Incremental.run(spark, stage2, root, ckpt2,
      extras = Seq("REGION"), rawSchema = evolved).awaitTermination()
    val f = StarStore(spark, root).fact
    assert(f.count() === 2)
    assert(f.where(col("REGION") === "emea").count() === 1)
    assert(f.where(col("REGION").isNull).count() === 1,
      "the pre-evolution delta must null-fill")
  }

  test("publish survives a crashed predecessor: orphan version dir + lost CURRENT") {
    val root = tmpDir("graft-crash")
    val store = StarStore(spark, root)
    assert(store.runBatch(rawBatch1, "c1") === 3)

    // crash scenario 1: a version dir was renamed into place but CURRENT
    // was never swapped — the orphan must not wedge later publishes
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/versions/v00000002/junk"))
    assert(store.runBatch(rawBatch2, "c2") === 2)
    assert(store.fact.count() === 5)

    // crash scenario 2: CURRENT lost mid-swap — highest version wins
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/CURRENT"))
    assert(store.fact.count() === 5)
    assert(store.dimDate.count() === 3)
  }

  test("on-disk contract: CURRENT names the live version, whose manifest " +
    "carries maxFactId and the live delta list") {
    // external readers (the benchmark harness, ops scripts) read these
    // files directly, without StarStore — pin the layout, not the API
    val root = tmpDir("graft-star-layout")
    val store = StarStore(spark, root, autoCompactAfter = Int.MaxValue)
    def read(rel: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, rel)), "UTF-8")
    def assertContract(expectedV: String, expectedBatches: Seq[String]): Unit = {
      val v = read("CURRENT").trim
      assert(v === expectedV)
      val kv = read(s"versions/$v/manifest.txt").linesIterator
        .map(_.split("=", 2)).collect { case Array(k, x) => k -> x }.toMap
      assert(kv("maxFactId").toLong === store.fact.count())
      assert(kv("batches").split(",").filter(_.nonEmpty).toSeq ===
        expectedBatches)
      val deltaDirs = new java.io.File(s"$root/facts").listFiles()
        .map(_.getName).filter(_.startsWith("batch_")).sorted.toSeq
      assert(deltaDirs === expectedBatches.map("batch_" + _).sorted)
    }
    assert(store.runBatch(rawBatch1, "l1") === 3)
    assert(store.runBatch(rawBatch2, "l2") === 2)
    assertContract("v00000002", Seq("l1", "l2"))
    assert(store.compact() === 2)
    assertContract("v00000003", Seq("compact_3"))
    assert(store.fact.count() === 5)
  }

  test("audit: count + one-job max-lengths (rows 26-27)") {
    val prof = Audit.profile(rawBatch1).head()
    assert(prof.getAs[Long]("n_records") === 5)
    assert(prof.getAs[Int]("maxlen_DateTime") === 24)
    assert(prof.getAs[Int]("maxlen_VideoTitle") ===
      "news| Shark attacks spearfisherman".length)
  }

  test("auto-compaction bounds live deltas; replay guard and views survive") {
    val root = tmpDir("graft-star-ac")
    val store = StarStore(spark, root, autoCompactAfter = 3)
    def raw(i: Int) = Seq(
      (f"2017-01-11T00:0$i%d:00.000Z", s"news| Video $i", "206")
    ).toDF("DateTime", "VideoTitle", "events")

    assert(store.runBatch(raw(1), "a1") === 1)
    store.registerViews() // must stay valid across later publishes
    (2 to 6).foreach(i => assert(store.runBatch(raw(i), s"a$i") === 1))

    // publish #4 crossed the threshold → compacted; 5 and 6 appended after:
    // live dirs = {compacted, a5, a6} ≤ autoCompactAfter
    val factDirs = new java.io.File(s"$root/facts").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(factDirs.length <= 3, s"live deltas not bounded: ${factDirs.toSeq}")
    assert(store.fact.count() === 6)

    // replaying a pre-compaction batch id is still a no-op (`applied` history)
    assert(store.runBatch(raw(2), "a2") === 0)
    assert(store.fact.count() === 6)

    // views were re-registered on every publish — the old version dirs the
    // original registration pointed at are gone
    assert(spark.sql("SELECT count(*) FROM fact_videostart").as[Long].head() === 6)
    assert(spark.sql("SELECT count(*) FROM dim_date").as[Long].head() === 6)
  }

  test("time travel: readVersion snapshots, retention sweep, across compaction") {
    val root = tmpDir("graft-star-tt")
    val store = StarStore(spark, root, autoCompactAfter = Int.MaxValue,
      retainVersions = 2)
    def raw(i: Int) = Seq(
      (f"2017-01-11T00:0$i%d:00.000Z", s"news| Video $i", "206")
    ).toDF("DateTime", "VideoTitle", "events")

    (1 to 3).foreach(i => assert(store.runBatch(raw(i), s"t$i") === 1))
    // retain 2 of 3: v1 swept, v2/v3 readable
    assert(store.versions === Seq(2L, 3L))
    assert(store.readVersion("fact", 2).count() === 2)
    assert(store.readVersion("fact", 3).count() === 3)
    assert(store.readVersion("dim_title", 2).count() === 2)
    val e = intercept[IllegalArgumentException](store.readVersion("fact", 1))
    assert(e.getMessage.contains("not retained"))

    // snapshot isolation: v2's frame is bit-stable across later publishes
    val v2 = store.readVersion("fact", 2)
    assert(store.runBatch(raw(4), "t4") === 1)
    assert(v2.count() === 2)
    assert(store.versions === Seq(3L, 4L))

    // compaction: the pre-compaction version's delta dirs must survive the
    // sweep while a retained manifest still references them
    assert(store.compact() === 4)
    assert(store.versions === Seq(4L, 5L))
    assert(store.readVersion("fact", 4).count() === 4) // pre-compaction read
    assert(store.readVersion("fact", 5).count() === 4) // compacted read
    // next publish ages v4 out → its delta dirs become reclaimable
    assert(store.runBatch(raw(5), "t5") === 1)
    assert(store.versions === Seq(5L, 6L))
    val factDirs = new java.io.File(s"$root/facts").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(factDirs === Set("batch_compact_5", "batch_t5"),
      s"pre-compaction deltas not reclaimed after aging out: $factDirs")
    assert(store.fact.count() === 5)
  }

  test("incremental: file-source stream + foreachBatch merge (rows 33-37)") {
    val stage = tmpDir("graft-stage")
    val root = tmpDir("graft-star-inc")
    val ckpt = tmpDir("graft-ckpt")

    def drop(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$stage/$name"),
        ("DateTime,VideoTitle,events" +: rows).mkString("\n"))

    drop("f1.csv", Seq("2017-01-11T00:00:53.000Z,news| Shark attack, \"127,206\""))
    Incremental.run(spark, stage, root, ckpt).awaitTermination()

    val store = StarStore(spark, root)
    assert(store.fact.count() === 1)

    // second file arrives → next AvailableNow drain picks up ONLY the new file
    drop("f2.csv", Seq("2017-01-11T00:05:00.000Z,iPhone|Clips|V, \"206\""))
    Incremental.run(spark, stage, root, ckpt).awaitTermination()
    assert(store.fact.count() === 2)
    assert(store.dimPlatform.count() === 2)
  }

  test("soak: 50 streamed micro-batches with repeated auto-compaction keep views, FKs, and file counts healthy") {
    // The long-lived-session story end-to-end (the per-mechanism tests above
    // each cover one moving part): ONE streaming query drives 50 foreachBatch
    // publishes through a store that auto-compacts every 4 live deltas —
    // ~12 compactions interleaved with publishes — and at the end the SQL
    // views still resolve, FKs are intact, factids stayed contiguous across
    // every compaction, the replay guard still remembers pre-compaction
    // batch ids, and the physical layout is bounded (no version/_tmp/delta
    // accumulation).
    val stage = tmpDir("graft-stage-soak")
    val root = tmpDir("graft-star-soak")
    val ckpt = tmpDir("graft-ckpt-soak")
    (1 to 50).foreach { i =>
      // every 10th file replays an existing title/minute — the anti-join
      // upsert path must keep dims stable under the soak, not just grow
      val (minute, title) =
        if (i % 10 == 0) (1, "news| Video 1") else (i, s"news| Video $i")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$stage/f$i%03d.csv"),
        "DateTime,VideoTitle,events\n" +
          f"2017-01-11T00:$minute%02d:00.000Z,$title,206")
    }
    val store = StarStore(spark, root, autoCompactAfter = 4)
    val q = spark.readStream
      .schema(RawSchemas.raw)
      .option("header", "true")
      .option("maxFilesPerTrigger", "1") // each file = its own micro-batch
      .csv(stage)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        store.runBatch(batch, batchId.toString): Unit
        // register once the store exists; every later publish/compaction
        // must then re-register or the views dangle on retired version dirs
        if (batchId == 0L) store.registerViews()
      }
      .start()
    q.awaitTermination()

    val fact = store.fact
    assert(fact.count() === 50)
    assert(fact.where($"DATETIME_SKEY".isNull || $"PLATFORM_SKEY".isNull ||
      $"SITE_SKEY".isNull || $"TITLE_SKEY".isNull).count() === 0)
    // factids contiguous across ~12 interleaved compactions (maxFactId is
    // manifest-carried, never re-derived from a compacted fact scan)
    assert(fact.select("factid").as[Long].collect().sorted.toSeq
      === (1L to 50L))
    // dims: 45 distinct minutes/titles (5 replayed), SKEYs unique
    assert(store.dimDate.count() === 45)
    assert(store.dimTitle.count() === 45)
    val skeys = store.dimTitle.select("TITLE_SKEY").as[Long].collect()
    assert(skeys.toSet.size === skeys.length)
    // views survived 50 publishes + compactions (re-registered each time)
    assert(spark.sql("SELECT count(*) FROM fact_videostart").as[Long].head() === 50)
    assert(spark.sql(
      """SELECT count(*) FROM fact_videostart f
        |JOIN dim_title t ON f.TITLE_SKEY = t.TITLE_SKEY""".stripMargin)
      .as[Long].head() === 50)
    // physical layout bounded: live deltas ≤ autoCompactAfter + 1, exactly
    // one live version dir, no _tmp staging leftovers
    val factDirs = new java.io.File(s"$root/facts").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(factDirs.length <= 5, s"live deltas not bounded: ${factDirs.toSeq}")
    val versionDirs = new java.io.File(s"$root/versions").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(versionDirs.count(_.startsWith("_tmp")) === 0,
      s"staging leftovers: ${versionDirs.toSeq}")
    assert(versionDirs.length === 1, s"retired versions linger: ${versionDirs.toSeq}")
    // the replay guard survived every compaction: any streamed batch id is
    // still a no-op, even ones whose delta dir was compacted away long ago
    assert(store.runBatch(rawBatch1, "2") === 0)
    assert(store.fact.count() === 50)
  }

  test("incremental: ProcessingTime cadence merges successive micro-batches (row 35)") {
    val stage = tmpDir("graft-stage-pt")
    val root = tmpDir("graft-star-pt")
    val ckpt = tmpDir("graft-ckpt-pt")

    def drop(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$stage/$name"),
        ("DateTime,VideoTitle,events" +: rows).mkString("\n"))

    // reads may race the publish's version-dir retirement — retry until the
    // expected count appears or the deadline passes
    def awaitFactCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      var last = -1L
      while (last != n && System.currentTimeMillis() < deadline) {
        last = try {
          val s = StarStore(spark, root)
          if (s.exists) s.fact.count() else -1L
        } catch { case _: Exception => -1L }
        if (last != n) Thread.sleep(250)
      }
      assert(last === n, s"fact count $last != $n within deadline")
    }

    drop("f1.csv", Seq("2017-01-11T00:00:53.000Z,news| Shark attack, \"127,206\""))
    // the reference cadence is 60 minutes (snow pipe.sql:78); a short one
    // exercises the same Trigger.ProcessingTime scheduling path in-test
    val q = Incremental.run(spark, stage, root, ckpt,
      cadence = Some("500 milliseconds"))
    try {
      awaitFactCount(1)
      // second file lands while the query keeps running → a LATER scheduled
      // micro-batch (not an AvailableNow drain) must pick it up and merge
      drop("f2.csv", Seq("2017-01-11T00:05:00.000Z,iPhone|Clips|V, \"206\""))
      awaitFactCount(2)
      val store = StarStore(spark, root)
      assert(store.dimPlatform.select("PLATFORM").as[String].collect().toSet
        === Set("Desktop", "iPhone"))
      // at least two non-empty micro-batches were processed on the cadence
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  test("concurrent writers serialize via version claims: no lost update, " +
      "monotone versions, exactly-once per batch id") {
    val root = tmpDir("graft-star-ccw")
    val store = StarStore(spark, root, autoCompactAfter = Int.MaxValue,
      retainVersions = 10)
    assert(store.runBatch(rawBatch1, "seed") === 3)

    val w3 = Seq(
      ("2017-01-11T00:07:00.000Z", "web|Live|W3", "206"),
      ("2017-01-11T00:08:00.000Z", "web|Live|W4", "206,101")
    ).toDF("DateTime", "VideoTitle", "events")
    // two INDEPENDENT store handles over the same root, racing distinct
    // batch ids from two threads — the claim protocol must serialize them:
    // the loser recomputes against the winner's version, neither is lost
    val s1 = StarStore(spark, root, Int.MaxValue, 10)
    val s2 = StarStore(spark, root, Int.MaxValue, 10)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val gate = new java.util.concurrent.CountDownLatch(2)
      def racing(s: StarStore, raw: org.apache.spark.sql.DataFrame,
                 id: String): Future[Long] = Future {
        gate.countDown(); gate.await() // maximize overlap
        s.runBatch(raw, id)
      }
      val r1 = racing(s1, rawBatch2, "w1")
      val r2 = racing(s2, w3, "w2")
      assert(Await.result(r1, 5.minutes) === 2)
      assert(Await.result(r2, 5.minutes) === 2)
    } finally pool.shutdown()

    // both updates present: seed(3) + w1(2, one replay row deduped by the
    // pipeline? no — rawBatch2 keeps both rows as facts) + w2(2)
    assert(store.fact.count() === 7)
    // versions strictly monotone, three publishes visible
    val vs = store.versions
    assert(vs === vs.sorted && vs.distinct === vs, s"versions not monotone: $vs")
    assert(vs.size === 3)
    // exactly-once: replaying either racer is a no-op
    assert(store.runBatch(rawBatch2, "w1") === 0)
    assert(store.runBatch(w3, "w2") === 0)
    // fact ids are unique across the racing publishes (a lost-update clone
    // would duplicate the stale snapshot's id range)
    val n = store.fact.count()
    assert(store.fact.select("factid").distinct().count() === n)
  }

  test("a crashed claimer's stale claim is broken; the pointer repairs " +
      "forward over a committed-but-unswapped version") {
    val root = tmpDir("graft-star-stale")
    val store = StarStore(spark, root)
    assert(store.runBatch(rawBatch1, "b1") === 3)
    // fake a claimer that died between claim and rename: claim v2, no dir,
    // mtime pushed past the staleness window
    val claim = java.nio.file.Paths.get(s"$root/versions/v00000002.claim")
    java.nio.file.Files.write(claim, "dead-writer".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(claim,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - StarStore.StaleClaimMs - 1000))
    // the next publish must break the stale claim and commit as v2
    assert(store.runBatch(rawBatch2, "b2") === 2)
    assert(store.versions.max === 2L)
    assert(store.fact.count() === 5)
  }

  test("retention sweep protects a concurrent writer's young in-flight " +
      "delta; aged orphans and staging leftovers are reclaimed") {
    val root = tmpDir("graft-star-sweep")
    val store = StarStore(spark, root)
    assert(store.runBatch(rawBatch1, "b1") === 3)
    def plant(name: String, ageMs: Long): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(s"$root/facts/$name")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("part-0"), Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs))
      p
    }
    // a racing writer wrote this delta seconds ago and has not published
    // its manifest yet — reclaiming it would corrupt that writer's commit
    val inflight = plant("batch_inflight", ageMs = 0)
    // a crashed attempt from long ago, and an abandoned staging dir
    val crashed = plant("batch_crashed", StarStore.StaleClaimMs + 60000)
    val staged = plant("_tmp_b9_deadbeef", StarStore.StaleClaimMs + 60000)
    store.sweepVersions()
    assert(java.nio.file.Files.exists(inflight),
      "sweep reclaimed a young in-flight delta")
    assert(!java.nio.file.Files.exists(crashed))
    assert(!java.nio.file.Files.exists(staged))
    // the published delta is referenced — untouched, store still reads
    assert(store.fact.count() === 3)
  }

  test("manifest-less version debris never counts toward retention and is " +
      "reclaimed once stale") {
    val root = tmpDir("graft-star-debris")
    val store = StarStore(spark, root) // retainVersions = 1
    assert(store.runBatch(rawBatch1, "b1") === 3)
    // a concurrent claimer died mid-(non-atomic)-rename: versions/v2
    // exists but carries no manifest — it must NOT occupy the retention
    // window (the sweep would otherwise delete the LIVE v1 and then fail
    // reading v2's missing manifest)
    val debris = java.nio.file.Paths.get(s"$root/versions/v00000002")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.write(debris.resolve("part-0"), Array[Byte](1))
    assert(store.versions === Seq(1L)) // debris is not a version
    store.sweepVersions()
    assert(store.fact.count() === 3, "sweep deleted the live version")
    assert(java.nio.file.Files.exists(debris),
      "young debris reclaimed while its writer could still be mid-copy")
    // aged past the claim-staleness window, the debris is reclaimed and
    // the name becomes publishable again
    java.nio.file.Files.setLastModifiedTime(debris,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - StarStore.StaleClaimMs - 60000))
    store.sweepVersions()
    assert(!java.nio.file.Files.exists(debris))
    assert(store.runBatch(rawBatch2, "b2") === 2)
    assert(store.versions.max === 2L)
  }
}
