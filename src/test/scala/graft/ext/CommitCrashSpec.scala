package graft.ext

import java.nio.file.{Files, Path => JPath, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.Commit

/** The commit primitive under crashes and concurrency: every mutating op on
  * persisted state is stopped after each of its filesystem steps, and the
  * next open must see exactly the old state or exactly the new one; two
  * maintainers on one store must both land. */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(from: JPath, to: JPath): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  private def tree(dir: String): Seq[JPath] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  private val commitDebris = Seq("_graft_commit", "_graft_stage_", "_graft_intent_")

  private def debris(dir: String): Seq[JPath] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      commitDebris.exists(p.getFileName.toString.startsWith)
    }.toList finally s.close()
  }

  /** Age every commit leftover past the claim staleness window — what a
    * crashed writer's debris looks like to the next maintainer. */
  private def ageDebris(dir: String): Unit = debris(dir).foreach { p =>
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - Commit.StaleClaimMs - 60000)
    val s = Files.walk(p)
    try s.iterator().asScala.foreach(Files.setLastModifiedTime(_, old))
    finally s.close()
  }

  /** Only data files and named sidecars, each `.crc` beside its file, and
    * no claim, intent or stage. */
  private def assertClean(dir: String, sidecars: Set[String]): Unit = {
    val files = tree(dir)
    val names = files.map(p => Paths.get(dir).relativize(p).toString).toSet
    files.foreach { p =>
      val rel = Paths.get(dir).relativize(p).toString
      val n = p.getFileName.toString
      val ok =
        if (n.endsWith(".crc"))
          names(Paths.get(dir).relativize(p.resolveSibling(
            n.stripPrefix(".").stripSuffix(".crc"))).toString)
        else n.startsWith("part-") || n == "_SUCCESS" || sidecars(rel)
      assert(ok, s"unexpected file left under $dir: $rel")
    }
    assert(debris(dir).isEmpty, s"commit debris left: ${debris(dir)}")
  }

  /** Crash `op` after each of its filesystem steps, on a fresh copy of the
    * store at `base` each time, until it completes; `check` sees the copy
    * after a crash. Returns the number of crash points run. */
  private def sweep(base: String, op: String => Unit)(check: String => Unit): Int = {
    var n = 1
    var crashed = true
    while (crashed) {
      assert(n < 80, "op never completed")
      val dir = Paths.get(tmpDir("crash")).resolve("store")
      copyTree(Paths.get(base), dir)
      crashed = CrashFs.run(spark, n)(op(dir.toString))
      if (crashed) check(dir.toString)
      n += 1
    }
    n - 2
  }

  private val docs = (0L until 20L).map(i =>
    (i, s"alpha beta gamma delta epsilon zeta token$i tail${i % 7}"))
    .toDF("doc_id", "text")

  /** A banded store of two part files. */
  private def servedStore(): String = {
    val dir = tmpDir("crash-served")
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") < 10).coalesce(1),
      "doc_id", "text", dir, numHashes = 8, cap = 2)
    Dedup.minhashStoreBandedAppendAt(spark, dir,
      docs.where(col("doc_id") >= 10).coalesce(1), "doc_id", "text")
    assert(spark.read.parquet(dir).inputFiles.length === 2)
    dir
  }

  private def rows(dir: String): Seq[(Int, String, Long)] =
    spark.read.parquet(dir).select("band", "v", "store_id")
      .as[(Int, String, Long)].collect().toSeq.sorted

  /** The served-store crash contract for `op`: after a crash at any step
    * the next open (through the sidecar) sees exactly `before` or exactly
    * `after`; once leftover debris ages out, rerunning `op` lands `after`
    * and leaves only data files and sidecars. */
  private def servedCrashes(op: String => Unit,
                            after: Seq[(Int, String, Long)] => Seq[(Int, String, Long)]): Int = {
    val base = servedStore()
    val before = rows(base)
    val want = after(before)
    sweep(base, op) { dir =>
      StoreMeta.open(spark, dir, StoreMeta.Banded)
      val seen = rows(dir)
      assert(seen === before || seen === want,
        s"a crashed op left ${seen.size} rows (before ${before.size}, after ${want.size})")
      if (debris(dir).nonEmpty) {
        ageDebris(dir)
        op(dir)
        StoreMeta.open(spark, dir, StoreMeta.Banded)
        assert(rows(dir) === want)
      }
      assertClean(dir, Set(StoreMeta.FileName))
    }
  }

  test("StoreMeta.compact: a crash after any step leaves exactly the old or " +
      "the new rows, and no debris once the op lands") {
    val points = servedCrashes(StoreMeta.compact(spark, _), identity)
    info(s"$points crash points")
    assert(points >= 5, s"only $points crash points")
  }

  test("StoreMeta.delete: a crash after any step leaves exactly the old or " +
      "the new rows — an erased id is never revived — and no debris") {
    val victims = Set(3L, 14L)
    val points = servedCrashes(
      StoreMeta.delete(spark, _, victims.toSeq.toDF("id"), "store_id"): Unit,
      _.filterNot(r => victims(r._3)))
    info(s"$points crash points")
    assert(points >= 5, s"only $points crash points")
  }

  test("hnswRebuildAt: a crash after any step leaves the old index with its " +
      "tombstones or the rebuilt one without the tombstoned ids") {
    val vecs = (0L until 24L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val base = tmpDir("crash-hnsw")
    Similarity.hnswSave(Similarity.hnswBuild(vecs, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1), base,
      knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val banned = Set(2L, 9L)
    Similarity.hnswTombstoneAt(spark, base, banned.toSeq.toDF("vec_id"))
    val all = (0L until 24L).toSet
    def state(dir: String): (Set[Long], Set[Long]) = {
      Similarity.hnswOpen(spark, dir, m = 4, maxLevel = 1)
      (spark.read.parquet(dir).select("id").as[Long].collect().toSet,
        Similarity.hnswTombstonesAt(spark, dir).as[Long].collect().toSet)
    }
    assert(state(base) === ((all, banned)))
    val rebuilt = (all -- banned, Set.empty[Long])
    def op(dir: String): Unit =
      Similarity.hnswRebuildAt(spark, dir, vecs, "vec_id", "embedding"): Unit
    val points = sweep(base, op) { dir =>
      val seen = state(dir)
      assert(seen === ((all, banned)) || seen === rebuilt,
        s"a crashed rebuild left ids ${seen._1.size}, tombstones ${seen._2}")
      // aged debris is reclaimed by the same swap the served-store cases
      // rerun; here a crash that left none must have left nothing else
      if (debris(dir).isEmpty) assertClean(dir, Set(StoreMeta.FileName))
    }
    info(s"$points crash points")
    assert(points >= 5, s"only $points crash points")
  }

  test("Layout.appendWithManifest: a crash after any step leaves a manifest " +
      "that parses and serves exactly the old or the new rows") {
    val base = tmpDir("crash-layout")
    Layout.writeWithManifest(spark,
      (0L until 20L).toDF("k").repartition(2), base, Seq("k"))
    def pruned(dir: String): Seq[Long] =
      Layout.readPruned(spark, dir, "k", Long.MinValue, Long.MaxValue)
        .as[Long].collect().toSeq.sorted
    val before = pruned(base)
    val batch = (100L until 110L).toDF("k").coalesce(1)
    val points = sweep(base,
      Layout.appendWithManifest(spark, batch, _, Seq("k"))) { dir =>
      val seen = pruned(dir)
      assert(seen === before || seen === (before ++ (100L until 110L)))
      // the next append lands on whatever the crash left, and leaves no temp
      Layout.appendWithManifest(spark, (200L until 205L).toDF("k").coalesce(1),
        dir, Seq("k"))
      assert(pruned(dir) === (seen ++ (200L until 205L)).sorted)
      assertClean(dir, Set("_graft_manifest.json"))
    }
    info(s"$points crash points")
    assert(points >= 3, s"only $points crash points")
  }

  private def race(a: => Unit, b: => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val gate = new java.util.concurrent.CountDownLatch(2)
      def go(body: => Unit) = Future { gate.countDown(); gate.await(); body }
      val (fa, fb) = (go(a), go(b))
      Await.result(fa, 5.minutes); Await.result(fb, 5.minutes)
    } finally pool.shutdown()
  }

  test("concurrent maintenance: two deletes of disjoint ids both land") {
    val dir = servedStore()
    val before = rows(dir)
    race(StoreMeta.delete(spark, dir, Seq(1L, 12L).toDF("id"), "store_id"),
      StoreMeta.delete(spark, dir, Seq(5L, 15L).toDF("id"), "store_id"))
    assert(rows(dir) === before.filterNot(r => Set(1L, 12L, 5L, 15L)(r._3)))
    assertClean(dir, Set(StoreMeta.FileName))
  }

  test("concurrent maintenance: a delete racing a compaction never revives " +
      "its victims nor duplicates rows") {
    val dir = servedStore()
    val before = rows(dir)
    race(StoreMeta.delete(spark, dir, Seq(4L, 17L).toDF("id"), "store_id"),
      StoreMeta.compact(spark, dir))
    assert(rows(dir) === before.filterNot(r => Set(4L, 17L)(r._3)))
    assertClean(dir, Set(StoreMeta.FileName))
  }

  test("commit schemes live only in the commit module") {
    val forbidden = Seq(".rename(", "CREATE_NEW", "_graft_rewrite_tmp")
    val allowed = Set("Commit.scala", "Tar.scala")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f))
    val hits = for {
      f <- files(new java.io.File("src/main/scala"))
      if f.getName.endsWith(".scala") && !allowed(f.getName)
      (line, i) <- Files.readAllLines(f.toPath,
        java.nio.charset.StandardCharsets.ISO_8859_1).asScala.zipWithIndex
      if forbidden.exists(line.contains)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(files(new java.io.File("src/main/scala")).nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
