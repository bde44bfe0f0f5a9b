package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Incremental, Sources, StarStore}
import graft.ext.{CacheScope, Curation, Dedup, StoreMeta}

/** One process, one workload: set up, warm up, then time ops for the given
  * number of seconds, checking every op's output. Writes a raw JSON record
  * (set-up spans, op spans with their checks, and the trace spans when
  * tracing) that the benchmark's reporting side turns into metrics.
  *
  * Usage: Harness --workload W --inputs DIR --work DIR --out FILE
  *          --seconds S --trace 0|1 --cores N --setups K --warmups W
  *          --unit U [--compact-every P] [--recall-floor F]
  *
  * The timed window runs ops until `seconds` have passed AND the op count is
  * a multiple of `unit` (a whole report mix, a plain op plus a compacting
  * one), so every window holds the same mix of op shapes. With tracing on,
  * untraced and traced units alternate; the difference between the two
  * sides is the tracing overhead. */
object Harness {

  final class OpRec(val phase: String, val kind: String) {
    var startMs = 0L; var endMs = 0L; var durS = 0.0; var traced = false
    var inRows = 0L; var inBytes = 0L; var bytesWritten = 0L; var filesWritten = 0L
    var ok = true; var note = ""
    val x = scala.collection.mutable.LinkedHashMap[String, Any]()
    def fail(why: String): Unit = { ok = false; note = if (note.isEmpty) why else s"$note; $why" }
    def json: Map[String, Any] = Map("phase" -> phase, "kind" -> kind,
      "start_ms" -> startMs, "end_ms" -> endMs, "dur_s" -> durS, "traced" -> traced,
      "in_rows" -> inRows, "in_bytes" -> inBytes, "bytes_written" -> bytesWritten,
      "files_written" -> filesWritten, "ok" -> ok, "note" -> note, "x" -> x)
  }

  final class Ctx(val spark: SparkSession, val args: Map[String, String],
                  val trace: Option[Trace]) {
    val inputs: String = args("inputs")
    val work: String = args("work")
    val seconds: Double = args("seconds").toDouble
    val setupsN: Int = args("setups").toInt
    val warmupsN: Int = args("warmups").toInt
    val unit: Int = args("unit").toInt
    val setups = ArrayBuffer[OpRec]()
    val ops = ArrayBuffer[OpRec]()
    val checks = scala.collection.mutable.LinkedHashMap[String, (Boolean, String)]()
    /** Seconds since JVM start at each phase boundary (run-time budget). */
    val timeline = scala.collection.mutable.LinkedHashMap[String, Double]()
    def mark(label: String): Unit = timeline(label) =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    /** Time `body` as one span; an exception fails the op, not the run. */
    def span(rec: OpRec, traced: Boolean)(body: OpRec => Unit): OpRec = {
      trace.foreach(_.attach(traced))
      rec.traced = traced && trace.isDefined
      rec.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body(rec)
      catch { case scala.util.control.NonFatal(e) => rec.fail(s"threw: $e") }
      rec.durS = (System.nanoTime() - t0) / 1e9
      rec.endMs = System.currentTimeMillis()
      rec
    }

    /** `setupsN` fresh set-ups (index passed to `body`); every odd one is
      * traced in a trace run. The last set-up's state is the one the ops use. */
    def runSetups(body: (Int, OpRec) => Unit): Unit = {
      mark("session")
      (0 until setupsN).foreach { k =>
        setups += span(new OpRec("setup", "setup"), k % 2 == 1)(body(k, _))
      }
      mark("setups")
    }

    /** Warm-up ops (left out of the metrics), then the timed window.
      * `op(i, rec)` gets a global op index (warm-ups included) and fills
      * `rec`; `pre(i)` and `post(rec)` run outside the span (snapshots,
      * checks, file accounting). */
    def runOps(kind: Int => String, pre: Int => Unit = _ => ())
              (op: (Int, OpRec) => Unit)(post: OpRec => Unit): Unit = {
      var i = 0
      def one(phase: String, traced: Boolean): Unit = {
        val rec = new OpRec(phase, kind(i))
        val idx = i
        pre(idx)
        span(rec, traced)(op(idx, _))
        trace.foreach(_.attach(false))
        try post(rec)
        catch { case scala.util.control.NonFatal(e) => rec.fail(s"check threw: $e") }
        ops += rec
        i += 1
      }
      (0 until warmupsN).foreach(_ => one("warmup", traced = false))
      mark("warmups")
      // A trace run alternates untraced (A) and traced (B) units for twice
      // the time, so both sides see the same warm-up and store growth.
      val traced = trace.isDefined
      val budget = if (traced) 2 * seconds else seconds
      val period = if (traced) 2 * unit else unit
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var j = 0
      // whole periods only, but never past 6x the budget on a starved host
      while (j == 0 || elapsed < budget || (j % period != 0 && elapsed < 6 * budget)) {
        val b = traced && (j / unit) % 2 == 1
        one(if (b) "B" else "A", b); j += 1
      }
      mark("window")
    }

    def check(name: String, ok: Boolean, detail: String): Unit =
      checks(name) = (ok, detail)
  }

  // ── files ──────────────────────────────────────────────────────────────────

  def snapshot(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def isDataFile(path: String): Boolean = {
    val n = Paths.get(path).getFileName.toString
    !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".crc")
  }

  /** (bytes, data files) created or rewritten between two snapshots. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.sum, fresh.keys.count(isDataFile))
  }

  def dataFiles(dir: String): Int = snapshot(dir).keys.count(k =>
    isDataFile(k) && k.endsWith(".parquet"))

  def dirBytes(dir: String): Long = snapshot(dir).values.sum

  def tsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally s.close()
    }
  }

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  def rowLine(r: Row): String =
    r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("\t")

  // ── star store (etl) ─────────────────────────────────────────────────────

  /** (maxFactId, live deltas) of the store's published manifest. */
  def manifest(root: String): (Long, Int) = {
    val cur = Paths.get(root, "CURRENT")
    if (!Files.exists(cur)) (0L, 0)
    else {
      val v = new String(Files.readAllBytes(cur), UTF_8).trim
      val kv = Files.readAllLines(Paths.get(root, "versions", v, "manifest.txt"), UTF_8)
        .asScala.map(_.split("=", 2)).collect { case Array(k, x) => k -> x }.toMap
      (kv("maxFactId").toLong, kv.getOrElse("batches", "").split(",").count(_.nonEmpty))
    }
  }

  final case class RawBatch(file: String, factRows: Long, rawRows: Long, bytes: Long)

  def rawBatches(inputs: String): IndexedSeq[RawBatch] =
    tsv(s"$inputs/batches.tsv").map { a =>
      val f = s"$inputs/batches/${a(0)}"
      RawBatch(f, a(1).toLong, a(2).toLong, Files.size(Paths.get(f)))
    }.toIndexedSeq

  /** Star checks over a published store: dims unique on natural key and
    * SKEY, no fact SKEY without its dim row, fact rows as planted. */
  def starChecks(ctx: Ctx, store: StarStore, expectedFacts: Long): Unit = {
    val dims = Seq(("dim_date", store.dimDate, "DATETIME"),
      ("dim_platform", store.dimPlatform, "PLATFORM"),
      ("dim_site", store.dimSite, "SITE"), ("dim_title", store.dimTitle, "TITLE"))
    dims.foreach { case (name, d, nk) =>
      val r = d.agg(count(lit(1)), countDistinct(col(nk)), countDistinct(col(s"${nk}_SKEY")))
        .head()
      ctx.check(s"$name.unique", r.getLong(0) == r.getLong(1) && r.getLong(0) == r.getLong(2),
        s"rows=${r.getLong(0)} keys=${r.getLong(1)} skeys=${r.getLong(2)}")
    }
    // one pass over the fact: its row count and, per dim, the rows whose
    // SKEY finds no dim row (a left join leaves the dim's marker null)
    val joined = dims.foldLeft(store.fact) { case (f, (name, d, nk)) =>
      f.join(d.select(col(s"${nk}_SKEY"), lit(true).as(name)), Seq(s"${nk}_SKEY"), "left")
    }
    val r = joined.agg(count(lit(1)), dims.map { case (name, _, _) =>
      count(when(col(name).isNull, 1)) }: _*).head()
    dims.zipWithIndex.foreach { case ((name, _, _), i) =>
      ctx.check(s"$name.no_orphan_skey", r.getLong(i + 1) == 0, s"orphans=${r.getLong(i + 1)}")
    }
    ctx.check("fact.rows_planted", r.getLong(0) == expectedFacts,
      s"fact=${r.getLong(0)} planted=$expectedFacts")
  }

  def starIngest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batches = rawBatches(ctx.inputs)
    var landed = 0
    var planted = 0L
    var lastLanded: (String, RawBatch) = null
    def root(k: Int) = s"${ctx.work}/star_$k"

    /** Land the next batch in `r`'s stage dir and drain the stream once. */
    def publish(r: String, rec: OpRec): RawBatch = {
      val b = batches(landed % batches.length)
      val stage = Paths.get(r, "stage")
      Files.createDirectories(stage)
      val name = f"landed_$landed%05d.csv"
      val tmp = stage.resolve(s".$name.tmp") // hidden: the file source skips it
      Files.copy(Paths.get(b.file), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, stage.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      lastLanded = (stage.resolve(name).toString, b)
      rec.inRows = b.rawRows; rec.inBytes = b.bytes
      val q = Incremental.run(spark, stage.toString, s"$r/store", s"$r/ckpt")
      q.awaitTermination()
      b
    }

    ctx.runSetups { (k, rec) =>
      val (before, _) = manifest(s"${root(k)}/store")
      val b = publish(root(k), rec)
      val (after, _) = manifest(s"${root(k)}/store")
      if (after - before != b.factRows) rec.fail(s"appended ${after - before}, planted ${b.factRows}")
      if (k == ctx.setupsN - 1) planted = after
    }
    val r = root(ctx.setupsN - 1)
    val storeDir = s"$r/store"
    var before = (0L, 0)
    var files = Map.empty[String, Long]
    ctx.runOps(_ => "publish", _ => {
      before = manifest(storeDir)
      files = snapshot(storeDir)
    }) { (_, rec) =>
      publish(r, rec)
    } { rec =>
      val after = manifest(storeDir)
      val b = lastLanded._2
      val (bytes, nFiles) = written(files, snapshot(storeDir))
      rec.bytesWritten = bytes; rec.filesWritten = nFiles
      rec.x("live_deltas_before") = before._2
      rec.x("live_deltas") = after._2
      rec.x("compacted") = after._2 < before._2
      if (after._1 - before._1 != b.factRows)
        rec.fail(s"appended ${after._1 - before._1}, planted ${b.factRows}")
      planted += b.factRows
    }
    // re-landing an already-published file (same path, same bytes) is a no-op
    val (path, b) = lastLanded
    val m0 = manifest(storeDir)
    Files.delete(Paths.get(path))
    Files.copy(Paths.get(b.file), Paths.get(path))
    Incremental.run(spark, s"$r/stage", storeDir, s"$r/ckpt").awaitTermination()
    val m1 = manifest(storeDir)
    ctx.check("reland.appends_zero", m1._1 == m0._1, s"appended ${m1._1 - m0._1}")
    starChecks(ctx, StarStore(spark, storeDir), planted)
  }

  // ── star report ───────────────────────────────────────────────────────────

  def starReport(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batches = rawBatches(ctx.inputs)
    val expect = tsv(s"${ctx.inputs}/report.tsv").map(a => a(0) -> a.drop(1)).toMap
    val day = expect("param_day")(0)
    val platform = expect("param_platform")(0)
    val topN = expect("param_topn")(0)
    val fact = "fact_videostart f"
    val queries = IndexedSeq(
      ("hour_platform", false,
        s"""SELECT substring(d.DATETIME, 1, 10) AS hour, p.PLATFORM, count(*) AS n
           |FROM $fact JOIN dim_date d ON f.DATETIME_SKEY = d.DATETIME_SKEY
           |JOIN dim_platform p ON f.PLATFORM_SKEY = p.PLATFORM_SKEY
           |GROUP BY 1, 2""".stripMargin),
      ("site_day", false,
        s"""SELECT s.SITE, count(*) AS n
           |FROM $fact JOIN dim_site s ON f.SITE_SKEY = s.SITE_SKEY
           |WHERE f.day = '$day' GROUP BY s.SITE""".stripMargin),
      ("top_titles", true,
        s"""SELECT t.TITLE, count(*) AS n
           |FROM $fact JOIN dim_title t ON f.TITLE_SKEY = t.TITLE_SKEY
           |GROUP BY t.TITLE ORDER BY n DESC, t.TITLE ASC LIMIT $topN""".stripMargin),
      ("minute_series", true,
        s"""SELECT d.DATETIME, count(*) AS n
           |FROM $fact JOIN dim_date d ON f.DATETIME_SKEY = d.DATETIME_SKEY
           |JOIN dim_platform p ON f.PLATFORM_SKEY = p.PLATFORM_SKEY
           |WHERE p.PLATFORM = '$platform'
           |GROUP BY d.DATETIME ORDER BY d.DATETIME""".stripMargin))
    var store: StarStore = null
    var storeDir = ""
    var factRows = 0L
    ctx.runSetups { (k, rec) =>
      storeDir = s"${ctx.work}/report_$k"
      store = StarStore(spark, storeDir)
      batches.zipWithIndex.foreach { case (b, i) =>
        store.runBatch(Sources.rawCsv(spark, b.file), s"setup_$i")
        rec.inRows += b.rawRows; rec.inBytes += b.bytes
      }
      factRows = manifest(storeDir)._1
      rec.bytesWritten = dirBytes(storeDir)
      val planted = batches.map(_.factRows).sum
      if (factRows != planted) rec.fail(s"fact rows $factRows, planted $planted")
    }
    store.registerViews()
    val (_, live) = manifest(storeDir)
    ctx.runOps(i => queries(i % queries.length)._1) { (i, rec) =>
      val (name, ordered, sql) = queries(i % queries.length)
      // a report's consumer takes every row of every column: collect()
      val lines = spark.sql(sql).collect().toSeq.map(rowLine)
      val got = sha256(if (ordered) lines else lines.sorted)
      rec.inRows = factRows
      rec.x("rows") = lines.length
      rec.x("live_deltas") = live
      if (got != expect(name)(0)) rec.fail(s"$name digest mismatch")
    } { _ => () }
    starChecks(ctx, store, factRows)
  }

  // ── curation ──────────────────────────────────────────────────────────────

  val docSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def curateCorpus(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val planted = tsv(s"${ctx.inputs}/planted.tsv")
    val exact = planted.filter(_(0) == "exact").map(_(1).toLong).toSet
    val lowq = planted.filter(_(0) == "lowq").map(_(1).toLong).toSet
    val clusters = planted.filter(_(0) == "cluster").groupBy(_(1))
      .values.map(_.map(_(2).toLong).toSet).toSeq
    val nearPlanted = clusters.map(_.size - 1).sum
    val floor = ctx.args("recall-floor").toDouble
    var docsDir = ""
    var nDocs = 0L
    ctx.runSetups { (k, rec) =>
      docsDir = s"${ctx.work}/docs_$k"
      val df = spark.read.schema(docSchema).json(s"${ctx.inputs}/corpus.jsonl")
      df.write.mode("overwrite").parquet(docsDir)
      nDocs = spark.read.parquet(docsDir).agg(count(lit(1))).head().getLong(0)
      rec.inRows = nDocs
      rec.inBytes = Files.size(Paths.get(s"${ctx.inputs}/corpus.jsonl"))
      rec.bytesWritten = dirBytes(docsDir)
    }
    val inBytes = dirBytes(docsDir)
    var firstDigest: String = null
    ctx.runOps(_ => "curate") { (i, rec) =>
      val out = s"${ctx.work}/curated_$i"
      val scope = new CacheScope
      try Curation.curate(spark.read.parquet(docsDir), "doc_id", "text",
          Curation.Config(), scope).write.mode("overwrite").parquet(out)
      finally scope.close()
      rec.inRows = nDocs; rec.inBytes = inBytes
      rec.x("out") = out
    } { rec =>
      val out = rec.x("out").toString
      val (bytes, nFiles) = written(Map.empty, snapshot(out))
      rec.bytesWritten = bytes; rec.filesWritten = nFiles
      val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0))
      val keptSet = kept.toSet
      val exactLeft = exact.count(keptSet)
      val lowqLeft = lowq.count(keptSet)
      val caught = clusters.map(c => c.size - c.count(keptSet)).sum
      val recall = if (nearPlanted == 0) 1.0 else caught.toDouble / nearPlanted
      val digest = sha256(kept.sorted.toSeq.map(_.toString))
      if (firstDigest == null) firstDigest = digest
      rec.x("survivors") = kept.length
      rec.x("dup_recall") = recall
      if (exactLeft > 0) rec.fail(s"$exactLeft planted exact duplicates survived")
      if (lowqLeft > 0) rec.fail(s"$lowqLeft planted low-quality docs survived")
      if (recall < floor) rec.fail(f"near-dup recall $recall%.4f < floor $floor")
      if (digest != firstDigest) rec.fail("survivor set differs from the first op's")
      rmrf(out)
    }
  }

  // ── served store ──────────────────────────────────────────────────────────

  def servedAdmit(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batchFiles = tsv(s"${ctx.inputs}/batches.tsv").map(a =>
      (s"${ctx.inputs}/batches/${a(0)}", a(1).toLong)).toIndexedSeq
    val stride = batchFiles.map(_._2).sum
    val planted = tsv(s"${ctx.inputs}/planted.tsv").map(a =>
      (a(0).toInt, a(1).toLong, a(2).toLong)).groupBy(_._1)
    val compactEvery = ctx.args("compact-every").toInt
    val floor = ctx.args("recall-floor").toDouble
    val rowsPerDoc = 16L // numHashes / bandRows of the default banded geometry
    var dir = ""
    var storedDocs = 0L
    ctx.runSetups { (k, rec) =>
      dir = s"${ctx.work}/served_$k"
      val docs = spark.read.schema(docSchema).json(s"${ctx.inputs}/store.jsonl")
      Dedup.minhashStoreBandedWrite(docs, "doc_id", "text", dir)
      storedDocs = spark.read.schema(docSchema).json(s"${ctx.inputs}/store.jsonl")
        .agg(count(lit(1))).head().getLong(0)
      rec.inRows = storedDocs
      rec.inBytes = Files.size(Paths.get(s"${ctx.inputs}/store.jsonl"))
      rec.bytesWritten = dirBytes(dir)
    }
    var files = Map.empty[String, Long]
    ctx.runOps(_ => "admit", _ => files = snapshot(dir)) { (i, rec) =>
      val (file, n) = batchFiles(i % batchFiles.length)
      val offset = (i / batchFiles.length) * stride // monotone ids on reuse
      val batch = spark.read.schema(docSchema).json(file)
        .withColumn("doc_id", col("doc_id") + lit(offset))
      val t0 = System.nanoTime()
      rec.x("probe_start_ms") = System.currentTimeMillis()
      val pairs = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch, "doc_id", "text")
        .collect()
      rec.x("probe_end_ms") = System.currentTimeMillis()
      val t1 = System.nanoTime()
      Dedup.minhashStoreBandedAppendAt(spark, dir, batch, "doc_id", "text")
      val t2 = System.nanoTime()
      if ((i + 1) % compactEvery == 0) {
        rec.x("compacted_files") = StoreMeta.compact(spark, dir)
        rec.x("compact_s") = (System.nanoTime() - t2) / 1e9
      }
      rec.x("probe_s") = (t1 - t0) / 1e9
      rec.x("append_s") = (t2 - t1) / 1e9
      rec.inRows = n; rec.inBytes = Files.size(Paths.get(file))
      val found = pairs.map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("store_id"))).toSet
      val want = planted.getOrElse(i % batchFiles.length, Seq.empty)
        .map { case (_, b, s) => (b + offset, s) }
      val recall = if (want.isEmpty) 1.0 else want.count(found).toDouble / want.size
      rec.x("dup_recall") = recall
      rec.x("pairs") = pairs.length
      if (recall < floor) rec.fail(f"probe recall $recall%.4f < floor $floor")
      storedDocs += n
    } { rec =>
      val (bytes, nFiles) = written(files, snapshot(dir))
      rec.bytesWritten = bytes; rec.filesWritten = nFiles
      rec.x("store_files") = dataFiles(dir)
      val rows = spark.read.parquet(dir).agg(count(lit(1))).head().getLong(0)
      rec.x("store_rows") = rows
      if (rows != rowsPerDoc * storedDocs)
        rec.fail(s"store rows $rows, appended docs imply ${rowsPerDoc * storedDocs}")
    }
  }

  // ── main ─────────────────────────────────────────────────────────────────

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val cores = args("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (args("trace") == "1") Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, args, trace)
    args("workload") match {
      case "star_ingest" => starIngest(ctx)
      case "star_report" => starReport(ctx)
      case "curate_corpus" => curateCorpus(ctx)
      case "served_admit" => servedAdmit(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    trace.foreach(_.attach(false))
    ctx.mark("checks")
    val out = Map(
      "workload" -> args("workload"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "peak_rss_kb" -> peakRssKb(),
      "setups" -> ctx.setups.map(_.json),
      "ops" -> ctx.ops.map(_.json),
      "checks" -> ctx.checks.map { case (k, (ok, d)) => k -> Map("ok" -> ok, "detail" -> d) },
      "timeline" -> ctx.timeline,
      "trace" -> trace.map(t => RawJson(t.toJson)))
    Files.write(Paths.get(args("out")), Json(out).getBytes(UTF_8))
    spark.stop()
  }
}
