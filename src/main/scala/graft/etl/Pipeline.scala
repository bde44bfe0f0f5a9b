package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end batch star build with atomic, incremental publish
  * (SURVEY §2 rows 8-10, 38; §7.4 item 4).
  *
  * The reference gets atomicity from a single psycopg2 transaction over 21
  * statements with rollback-on-error
  * (`lambda_redshift/lambda_function_redishift.py:171-183`) and idempotency
  * from anti-join/MERGE on natural keys. We replicate both with a
  * manifest-versioned filesystem layout, shaped like a miniature table
  * format (what Delta/Iceberg do at full scale):
  *
  * {{{
  * <root>/facts/batch_<id>/day=…/*.parquet  append-only, immutable fact deltas
  * <root>/facts/_tmp_<id>_<nonce>/          a delta staged by one attempt
  * <root>/versions/v<N>/dim_*/…             full (tiny) dim snapshots
  * <root>/versions/v<N>/manifest.txt        maxFactId=, batches= (live
  *                                          deltas), applied= (replay
  *                                          history), factSchema= (DDL)
  * <root>/versions/v<N>.claim               a writer's claim on name v<N>
  * <root>/versions/_tmp_<id>_<nonce>/       a version staged by one attempt
  * <root>/CURRENT                           pointer to the live version
  * }}}
  *
  * A version dir is COMMITTED exactly when its `manifest.txt` exists; any
  * other `v<N>` dir is crash debris no reader resolves.
  *
  * Why this shape at 100 TB: a batch writes ONLY its fact delta (O(batch))
  * and rewrites the dims (tiny by construction) — the earlier design
  * rewrote the whole fact per batch, O(total), which caps out fast. Data
  * files are immutable and shared across versions; publish is one version-
  * dir rename + one CURRENT pointer swap, COMMITTED by an atomic
  * create-if-absent claim on the version name so two concurrent writers
  * serialize — the loser recomputes on the winner's version instead of
  * clobbering it (optimistic concurrency, the Delta/Iceberg commit shape).
  * A crash mid-batch leaves the live version untouched (at worst `_tmp_`
  * staging the retention sweep reclaims by age); a crash between rename
  * and pointer swap leaves a complete version the next writer repairs
  * forward to. Replaying a batch id already in the manifest is a no-op —
  * exactly-once on top of the file-source's at-least-once redelivery
  * (SURVEY §2 row 37).
  *
  * Delta/staging tables (`*_dlt`, `staging`,
  * `lambda_function_redishift.py:57-69,87-91` + the 5 TRUNCATEs at
  * `:164-168`) have no persistent equivalent — per-batch DataFrames are
  * ephemeral by construction, the Spark-native restatement of "truncate
  * after merge".
  *
  * @param autoCompactAfter compact automatically when a publish leaves more
  *                         than this many live fact-delta dirs (the union
  *                         plan and file listing grow linearly with them);
  *                         `Int.MaxValue` disables. Compaction preserves the
  *                         `applied` replay guard.
  * @param retainVersions   how many published versions stay readable for
  *                         time travel ([[readVersion]]). The default 1
  *                         keeps only the live version (the pre-time-travel
  *                         behavior); larger values retain history — cheap,
  *                         because a version dir is tiny dim snapshots plus
  *                         a manifest, and fact delta files are immutable
  *                         and SHARED across versions (only compaction ever
  *                         rewrites fact bytes). */
class StarStore(spark: SparkSession, root: String,
                autoCompactAfter: Int = StarStore.DefaultAutoCompactAfter,
                retainVersions: Int = 1) {
  import StarStore._
  require(retainVersions >= 1, s"retainVersions out of range: $retainVersions")

  private val fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val currentPath = new Path(s"$root/CURRENT")

  // ── snapshot resolver ────────────────────────────────────────────────────

  private def versionDir(v: String) = s"$root/versions/$v"

  private def manifestPath(dir: String) = new Path(s"$dir/manifest.txt")

  /** THE committed test: a version exists once its manifest does. On an
    * object store every call is one HEAD request. */
  private def isCommitted(v: String): Boolean =
    fs.exists(manifestPath(versionDir(v)))

  /** One listing of versions/: the committed names, ascending, and the
    * manifest-less `v<N>` dirs beside them (a crashed claimer's leftovers —
    * never a version, so never counted toward retention or resolved). */
  private def listVersions(): (Seq[String], Seq[FileStatus]) = {
    val vdir = new Path(s"$root/versions")
    val entries =
      if (!fs.exists(vdir)) Seq.empty
      else fs.listStatus(vdir).toSeq.filter(_.getPath.getName.matches("v\\d+"))
    val (committed, debris) =
      entries.partition(st => isCommitted(st.getPath.getName))
    (committed.map(_.getPath.getName).sortBy(_.drop(1).toLong), debris)
  }

  /** The CURRENT pointer file alone; None when absent, empty or unreadable
    * (mid-swap, between its delete and rename). */
  private def pointer(): Option[String] =
    try {
      val in = fs.open(currentPath)
      try Some(new String(in.readAllBytes(), "UTF-8").trim).filter(_.nonEmpty)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** The age gate every crash-debris reclaim and stale-claim break uses. */
  private def stale(st: FileStatus): Boolean =
    System.currentTimeMillis() - st.getModificationTime > StaleClaimMs

  /** Live version, from CURRENT; falls back to the highest committed
    * version (covers a crash in the tiny delete→rename window of the
    * pointer swap). */
  private def currentVersion: Option[String] =
    pointer().orElse(listVersions()._1.lastOption)

  private def live: String =
    currentVersion.getOrElse(sys.error(s"empty star store at $root"))

  def exists: Boolean = currentVersion.isDefined

  private def manifest(v: String): Manifest = {
    val in = fs.open(manifestPath(versionDir(v)))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val kv = text.linesIterator.map(_.split("=", 2)).collect {
      case Array(k, v1) => k -> v1
    }.toMap
    def ids(key: String) = kv.get(key).map(_.split(",").filter(_.nonEmpty).toSeq)
    val batches = ids("batches").getOrElse(Seq.empty)
    Manifest(kv("maxFactId").toLong, batches,
      // `applied` tracks every batch id ever published (for the replay
      // guard), surviving compaction that rewrites the live list; absent in
      // pre-compaction manifests, where live == applied.
      ids("applied").getOrElse(batches),
      // `factSchema` is the version's fact column contract (DDL) — absent
      // in pre-evolution manifests, where every delta shares one schema
      kv.get("factSchema").filter(_.nonEmpty))
  }

  // ── read side ────────────────────────────────────────────────────────────

  /** Table `name` (a dim's table name or `fact`) of version `v`. */
  private def table(v: String, name: String): DataFrame =
    if (name == FactTable) factOf(v)
    else spark.read.parquet(s"${versionDir(v)}/$name")

  def dimDate: DataFrame = table(live, DimDate.table)
  def dimPlatform: DataFrame = table(live, DimPlatform.table)
  def dimSite: DataFrame = table(live, DimSite.table)
  def dimTitle: DataFrame = table(live, DimTitle.table)

  /** The fact = union of the immutable per-batch delta files listed in the
    * live manifest (never a rewritten monolith). At high batch counts,
    * compact old deltas into one dir — the manifest makes that a
    * metadata-only swap. */
  def fact: DataFrame = table(live, FactTable)

  /** Each batch dir is its own day-partitioned parquet root, so they are
    * read separately and unioned (a shared read would mis-parse `batch_*`
    * as partition dirs); partition pruning on `day` still applies inside
    * every branch. */
  private def factOf(v: String): DataFrame = {
    val m = manifest(v)
    val deltas = m.batches.map(b => spark.read.parquet(s"$root/facts/batch_$b"))
    m.factSchema match {
      case None => deltas.reduce(_.unionByName(_)) // pre-evolution: one schema
      case Some(ddl) =>
        // SCHEMA RECONCILIATION (the Delta/Iceberg add-nullable-column
        // read): the manifest's DDL is the version's column contract; a
        // delta written before a column existed null-fills it at its
        // recorded type. Present columns keep their read-back type (the
        // partition column's inferred type must stay whatever the scan
        // gives, exactly as the pre-evolution union behaved).
        val target = StructType.fromDDL(ddl)
        deltas.map { df =>
          val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
          df.select(target.fields.toSeq.map { f =>
            have.get(f.name) match {
              case Some(f.dataType) => col(f.name)
              // a pre-widening delta carries the narrower published type:
              // up-cast to the recorded (lossless-widened) contract
              case Some(_) => col(f.name).cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }: _*)
        }.reduce(_.unionByName(_))
    }
  }

  /** Register the live star as SQL views (`dim_date`, `dim_platform`,
    * `dim_site`, `dim_title`, `fact_videostart`) so `spark.sql` works over
    * the store — the engine's stand-in for the reference's warehouse DDL
    * surface (SURVEY §2 row 8). All five resolve ONE version, so a
    * concurrent publish can never pair one version's dims with another's
    * fact. */
  def registerViews(): Unit = {
    val v = live
    Dimensions.foreach(d => table(v, d.table).createOrReplaceTempView(d.table))
    table(v, FactTable).createOrReplaceTempView("fact_videostart")
    viewsRegistered = true
  }

  // Views capture concrete version-dir paths; a publish retires that dir, so
  // any registered views must be re-pointed after every publish or the next
  // `spark.sql` over them fails on deleted files.
  private var viewsRegistered = false
  private def refreshViews(): Unit = if (viewsRegistered) registerViews()

  // ── time travel ──────────────────────────────────────────────────────────

  /** Versions still on disk, ascending — the readable time-travel range
    * (bounded by `retainVersions`; [[sweepVersions]] prunes older ones). */
  def versions: Seq[Long] = listVersions()._1.map(_.drop(1).toLong)

  /** Read a table AS OF a published version — the snapshot-isolation read
    * the versioned layout was built to serve (what `table@v<N>` is in a
    * full table format). `name` is one of `dim_date`, `dim_platform`,
    * `dim_site`, `dim_title`, `fact`. The fact at version N is the union
    * of exactly the delta dirs its manifest listed — immutable files, so
    * the result is bit-stable no matter how many batches published since.
    * Fails with the retained range if the version has been swept. */
  def readVersion(name: String, version: Long): DataFrame = {
    val v = f"v$version%08d"
    require(isCommitted(v),
      s"version $version not retained at $root " +
        s"(retained: ${versions.mkString(",")})")
    table(v, name)
  }

  /** Retention sweep: keep the newest `retainVersions` version dirs, delete
    * older ones, then reclaim fact delta dirs referenced by NO surviving
    * manifest (delta files are shared across versions, so a dir is only
    * reclaimable once every retained version stopped referencing it —
    * i.e. after a compaction ages out of the window). Runs automatically
    * after every publish; idempotent and safe to call any time. */
  def sweepVersions(): Unit = {
    // ONE listing, one manifest probe per dir (on an object store every
    // exists() is an RPC)
    val (committed, debris) = listVersions()
    committed.dropRight(retainVersions).foreach { v =>
      fs.delete(new Path(versionDir(v)), true)
      fs.delete(claimPath(v), false): Unit // retire its claim marker
    }
    // Reclaim crash DEBRIS, age-gated by the claim staleness window so a
    // live writer's in-flight (non-atomic) copy is never hit; clearing it
    // frees the name for publishVersion's own debris check.
    debris.foreach { st =>
      if (stale(st) &&
          // re-probe AT DELETE TIME: the classification above is seconds
          // old on an object store, and a publisher may have reclaimed
          // the name and COMMITTED since — a manifest now present means
          // live data, not debris
          !isCommitted(st.getPath.getName)) {
        // the manifest probe narrows but does not close the window: a
        // publisher that reclaimed the name AFTER our listing can be
        // mid-rename (dir recreated, manifest not yet in place). Re-fetch
        // the dir's status and re-apply the age gate to the FRESH mtime —
        // a reclaimed dir is young and gets skipped until it either
        // commits (manifest probe protects it) or goes stale again.
        val fresh =
          try Some(fs.getFileStatus(st.getPath))
          catch { case _: java.io.FileNotFoundException => None }
        if (fresh.exists(stale)) fs.delete(st.getPath, true): Unit
      }
    }
    val retained = committed.takeRight(retainVersions).map(manifest)
    val referenced = retained.flatMap(_.batches).toSet
    // Reclaim rules, concurrency-safe: a delta dir is deletable when it is
    // UNREFERENCED by every retained manifest AND either (a) its batch id
    // is in the `applied` history — a published delta whose compaction
    // aged out of the retention window — or (b) it is older than the
    // staleness window — a crashed attempt's orphan. Rule (b) alone would
    // also hit a CONCURRENT writer's in-flight delta (written seconds ago,
    // referenced by no manifest yet): deleting it would let that writer
    // publish a manifest pointing at vanished data — the silent-corruption
    // case the claim protocol exists to prevent. Staged `_tmp_` dirs are
    // attempt-scoped and reclaimed by age alone.
    val applied = retained.flatMap(_.applied).toSet
    val fdir = new Path(s"$root/facts")
    if (fs.exists(fdir)) fs.listStatus(fdir).foreach { st =>
      val name = st.getPath.getName
      val id = name.stripPrefix("batch_")
      val reclaim =
        if (name.startsWith("batch_"))
          !referenced.contains(id) && (applied.contains(id) || stale(st))
        else name.startsWith("_tmp_") && stale(st)
      if (reclaim) fs.delete(st.getPath, true): Unit
    }
  }

  // ── write side ───────────────────────────────────────────────────────────

  private def writeManifest(dir: String, m: Manifest): Unit = {
    val out = fs.create(manifestPath(dir), true)
    try out.write(m.serialized.getBytes("UTF-8")) finally out.close()
  }

  /** Stage and commit one version — the ONE publish sequence, shared by
    * [[attemptBatch]] and [[compact]]: write `delta` to attempt-unique
    * staging; stage the version dir (`stageDims` fills it, then the
    * manifest `manifestFor` derives from the staged delta's path); claim
    * the version name and re-verify ownership and that the name is not
    * already committed; finalize the delta into `facts/batch_<id>`, rename
    * the staged dir, advance the pointer, retire the claim.
    * Some(committed manifest), or None when the race was lost — every
    * staged byte is deleted, a claim we own of an already-committed name is
    * retired, a crashed claimer's stale claim is broken for the caller's
    * retry. */
  private def stageAndCommit(id: String, nextV: String, delta: DataFrame,
                             stageDims: String => Unit,
                             manifestFor: String => Manifest)
      : Option[Manifest] = {
    // Per-ATTEMPT staging paths: redelivery can run the SAME batch id
    // concurrently (the at-least-once contract this class documents), and
    // id-keyed staging would let one writer's delete/overwrite corrupt the
    // other's half-staged files mid-commit. The delta moves to its
    // immutable id-keyed home only under a WON claim, so a losing same-id
    // twin can never clobber the winner's published data (nor a concurrent
    // publisher's sweep see a half-written final dir).
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val deltaTmp = new Path(s"$root/facts/_tmp_${id}_$nonce")
    val deltaDir = new Path(s"$root/facts/batch_$id")
    delta.write.mode("overwrite").partitionBy("day").parquet(deltaTmp.toString)

    val tmp = s"$root/versions/_tmp_${id}_$nonce"
    fs.delete(new Path(tmp), true)
    stageDims(tmp)
    val m = manifestFor(deltaTmp.toString)
    writeManifest(tmp, m)

    claimVersion(nextV) match {
      case Some(token) =>
        val ours = claimStillOwned(nextV, token)
        if (ours && !isCommitted(nextV)) {
          // a crashed leftover at the final delta name is cleared under the
          // claim
          if (fs.exists(deltaDir)) fs.delete(deltaDir, true)
          require(fs.rename(deltaTmp, deltaDir),
            s"fact delta finalize failed: $deltaTmp -> $deltaDir")
          publishVersion(tmp, nextV)
          swapPointer(nextV)
          // the claim's job is done once the commit is visible — retire it
          // so the versions/ listing stays exactly the committed dirs
          // (claims of already-committed names are caught by the manifest
          // pre-check above)
          fs.delete(claimPath(nextV), false)
          return Some(m)
        }
        // lost after all: the name was committed before its claim was
        // retired (retire OUR claim of it), or our claim was broken and
        // re-assigned mid-gap (then it is not ours to delete)
        if (ours) fs.delete(claimPath(nextV), false): Unit
      case None =>
        breakStaleClaim(nextV): Unit // un-wedge a crashed claimer for the retry
    }
    fs.delete(new Path(tmp), true)
    fs.delete(deltaTmp, true)
    None
  }

  /** Rename a staged version dir into place — the COMMIT POINT of the
    * claim protocol. The destination cannot exist: [[claimVersion]] grants
    * the name exclusively, and a committed version dir is never deleted
    * (a crash after this rename but before the pointer swap leaves a
    * COMPLETE version that [[repairPointer]] advances to — the batch is
    * committed, not orphaned). An existing destination therefore means the
    * claim protocol was bypassed; failing loudly beats clobbering a
    * concurrent winner's commit. */
  private def publishVersion(tmp: String, nextV: String): Unit = {
    val dest = new Path(versionDir(nextV))
    if (fs.exists(dest)) {
      // a manifest marks a COMMITTED version — renaming over one would
      // clobber a concurrent winner, so that is a protocol violation.
      // A manifest-LESS dir is crash debris (a non-atomic object-store
      // "rename" that died mid-copy, or manual interference): no reader
      // can resolve it, and we own the claim — clear it and commit.
      require(!isCommitted(nextV),
        s"version $nextV already committed at $root — claim protocol violated")
      fs.delete(dest, true)
    }
    require(fs.rename(new Path(tmp), dest),
      s"version publish failed: $tmp -> $nextV")
  }

  // ── optimistic-concurrency commit (claim files) ───────────────────────────
  //
  // Two concurrent runBatch callers must SERIALIZE, not lose an update: the
  // loser recomputes on the winner's published version instead of clobbering
  // it. The primitive is an atomic create-if-absent CLAIM file
  // (versions/v<N>.claim): whoever creates it owns the right to rename its
  // staged dir to versions/v<N>. Claims are taken LATE (right before the
  // rename), so a claim's lifetime is milliseconds; a claim with no version
  // dir older than StaleClaimMs is a crashed claimer and is broken. Claim
  // content is a per-writer token re-checked immediately before the rename,
  // so a broken-and-reclaimed name aborts the original writer instead of
  // racing two renames onto one destination.

  /** Atomically claim `nextV`; Some(writer token) on success, None when the
    * name is already claimed (lost the race). On a `file:` store the create
    * uses O_EXCL via NIO (Hadoop's RawLocalFileSystem create-if-absent is
    * check-then-act, not atomic); elsewhere `FileSystem.create(overwrite =
    * false)` — atomic on HDFS and object stores with conditional puts. */
  private def claimVersion(nextV: String): Option[String] = {
    val claim = claimPath(nextV)
    fs.mkdirs(claim.getParent)
    val token = java.util.UUID.randomUUID().toString
    val created =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(claim.toUri.getPath),
            token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException =>
            // CREATE_NEW succeeded but the write died: the torn claim is
            // OURS — remove it, or it wedges the name for StaleClaimMs as
            // an orphan no writer owns (the caller sees a clean lost-race
            // and retries)
            try java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(claim.toUri.getPath)): Unit
            catch { case _: java.io.IOException => () }
            false
        }
      else {
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        try {
          out = fs.create(claim, false) // throws when already claimed
          out.write(token.getBytes("UTF-8"))
          out.close(); out = null
          true
        } catch {
          case _: java.io.IOException =>
            if (out != null) {
              // create-if-absent SUCCEEDED, so the failure was our own
              // write/close — the half-written claim is ours to delete
              // (same orphan-wedge hazard as the local branch above)
              try out.close() catch { case _: java.io.IOException => () }
              try fs.delete(claim, false): Unit
              catch { case _: java.io.IOException => () }
            }
            false
        }
      }
    if (created) Some(token) else None
  }

  private def claimPath(nextV: String) =
    new Path(s"$root/versions/$nextV.claim")

  /** The claim is still OURS (content equals our token): re-checked
    * immediately before the commit rename — if a stale-claim break
    * re-assigned the name while we were between claim and rename, abort
    * rather than rename onto a destination someone else now owns. Reads
    * retry a couple of times: a single transient IO hiccup must not make
    * a writer abandon a claim it actually holds (the orphaned claim would
    * wedge the name for StaleClaimMs). */
  private def claimStillOwned(nextV: String, token: String): Boolean = {
    var attempt = 0
    while (attempt < 3) {
      try {
        val in = fs.open(claimPath(nextV))
        val content =
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        return content == token
      } catch {
        case _: java.io.FileNotFoundException => return false // broken claim
        case _: java.io.IOException => attempt += 1; Thread.sleep(100L)
      }
    }
    false
  }

  /** Break a CRASHED claimer's claim: the claim file exists, its version
    * dir never appeared, and it is older than [[StarStore.StaleClaimMs]]
    * (claims live for milliseconds in a healthy writer — the gap between
    * claim and rename). Returns true if a stale claim was removed. */
  private def breakStaleClaim(nextV: String): Boolean = {
    val claim = claimPath(nextV)
    try {
      // "its version dir never appeared" means never COMMITTED (manifest
      // present): a manifest-less dir is a crashed mid-rename's debris —
      // treating it as a commit would make the claim unbreakable and wedge
      // every future publish on this name forever.
      if (!fs.exists(claim) || isCommitted(nextV)) false
      else stale(fs.getFileStatus(claim)) && fs.delete(claim, false)
    } catch { case _: java.io.IOException => false }
  }

  /** Advance CURRENT to the highest committed version if the pointer fell
    * behind (crash between the commit rename and the pointer swap): the
    * rename is atomic over a fully-staged dir, so any committed
    * versions/v<N> is a commit — repairing forward loses nothing and
    * un-wedges the next writer. A missing pointer already resolves to the
    * highest committed version, so it is left for the next commit to
    * recreate. */
  private def repairPointer(): Unit =
    listVersions()._1.lastOption.foreach { h =>
      if (pointer().exists(_ < h)) swapPointer(h)
    }

  /** FORWARD-ONLY pointer advance: a writer that stalled between its
    * commit rename and this swap must not move CURRENT backward past a
    * newer version another writer committed meanwhile (readers would serve
    * the stale snapshot until the next repair). The zero-padded version
    * names compare lexicographically = numerically. The read-check-swap
    * window is instruction-level, not stall-level — the residual race of
    * any lock-free filesystem pointer, self-healing via repairPointer. */
  private def swapPointer(nextV: String): Unit =
    // the POINTER FILE only, never the committed-dir fallback (which would
    // see our own just-renamed dir and skip ever creating CURRENT)
    if (!pointer().exists(_ >= nextV)) {
      val curTmp = new Path(s"$root/CURRENT._tmp")
      val pOut = fs.create(curTmp, true)
      try pOut.write(nextV.getBytes("UTF-8")) finally pOut.close()
      fs.delete(currentPath, false)
      require(fs.rename(curTmp, currentPath), "CURRENT pointer swap failed")
    }

  /** Process one raw batch end-to-end and atomically publish the updated
    * star. Returns the number of fact rows appended (0 for a replayed
    * batch id).
    *
    * CONCURRENT-WRITER SAFE: the publish commits by atomically claiming
    * the next version name ([[claimVersion]]) before the rename, so two
    * simultaneous callers serialize — the loser deletes its staged dir and
    * RECOMPUTES against the winner's published version (its SKEYs/fact ids
    * would otherwise duplicate the winner's), bounded at
    * [[StarStore.MaxPublishRetries]] attempts. No update is ever lost and
    * versions stay strictly monotone (spec-pinned by the concurrent-writer
    * test).
    *
    * `extras` names raw columns to carry into the fact beyond the
    * reference's fixed derived set, under ADD-ONLY, WIDEN-ONLY SCHEMA
    * EVOLUTION. The published manifest records the fact schema; a batch
    * must carry every column the live schema already has (add-only — a
    * column, once published, never silently disappears mid-history) at its
    * published type or a lossless widening of it ([[StarStore.widens]]:
    * byte→short→int→long, float→double — the manifest then records the
    * wider type), and may add new ones, which become nullable for every
    * earlier delta: reads null-fill missing columns and up-cast narrower
    * pre-widening deltas at the recorded type, and old SNAPSHOTS stay
    * readable via time travel under their own (pre-evolution) schema. */
  def runBatch(raw: DataFrame, batchId: String,
               extras: Seq[String] = Nil): Long = {
    require(!batchId.contains("/"), s"batch id must be path-safe: $batchId")
    var attempt = 0
    while (attempt <= StarStore.MaxPublishRetries) {
      repairPointer()
      val result =
        try attemptBatch(raw, batchId, extras)
        catch {
          // a concurrent winner's retention sweep can retire the exact
          // version snapshot this attempt was reading (retainVersions=1
          // keeps only the live one) — that is a lost race wearing an IO
          // error, not a failure: recompute from the fresh snapshot. The
          // LAST attempt rethrows, so a genuine persistent IO fault still
          // surfaces as itself rather than as "pathological contention".
          case e @ (_: java.io.FileNotFoundException
                    | _: org.apache.spark.SparkException) =>
            if (attempt >= StarStore.MaxPublishRetries) throw e
            None
        }
      result match {
        case Some(appended) => return appended
        case None =>
          attempt += 1
          // the winner is mid-swap or just ahead; brief linear backoff and
          // recompute from its published snapshot
          Thread.sleep(50L * attempt)
      }
    }
    sys.error(s"runBatch($batchId) gave up after " +
      s"${StarStore.MaxPublishRetries} concurrent-publish retries at $root")
  }

  /** One optimistic attempt: compute against the current snapshot, stage,
    * claim, commit. None = lost the publish race (staged dirs cleaned up,
    * caller recomputes). */
  private def attemptBatch(raw: DataFrame, batchId: String,
                           extras: Seq[String]): Option[Long] = {
    // the ONE version this attempt reads: its dims and manifest come from
    // `prior`, never from a fresh CURRENT read
    val prior = currentVersion.map(v => (v, manifest(v)))
    if (prior.exists(_._2.applied.contains(batchId))) return Some(0L) // replay

    val cleaned = Transform.clean(raw, extras)
      .withColumn("SITE", coalesce(col("SITE"), lit(Fact.NoneMember)))

    // Dim upserts: idempotent anti-join + deterministic SKEYs (rows 28/31).
    // Dims are read multiple times (upsert + fact join) — cache the tiny frames.
    val dims = Dimensions.map { d =>
      (prior match {
        case Some((v, _)) =>
          Dims.upsert(table(v, d.table), cleaned, d.naturalKey, d.skeyCol)
        case None => Dims.build(cleaned, d.naturalKey, d.skeyCol)
      }).cache()
    }

    val maxFactId = prior.map(_._2.maxFactId).getOrElse(0L) // manifest, no fact scan
    val resolved = Fact.resolveSkeys(cleaned, dims(0), dims(1), dims(2), dims(3),
      extras)
    val newFact = Fact.withFactIdsScalable(resolved, maxFactId)

    // SCHEMA EVOLUTION, add-only + widen-only: the live manifest's recorded
    // schema (if any) must be a SUBSET of this batch's — every published
    // column present at its published type OR a lossless widening of it
    // (byte→short→int→long, float→double — the Delta/Iceberg widening set;
    // a column can never silently vanish, narrow, or cross type families
    // mid-history). Columns beyond the recorded set are the evolution,
    // appended to the recorded order so the contract stays stable for
    // readers; a widened column upgrades the recorded type, and reads
    // up-cast the narrower pre-widening deltas. Legacy stores (no recorded
    // schema) adopt this batch's schema going forward.
    val mergedSchema = prior.flatMap(_._2.factSchema).map(StructType.fromDDL)
      .fold(newFact.schema) { ps =>
        StructType(ps.fields.map { f =>
          val got = newFact.schema.fields.find(_.name == f.name).getOrElse(
            sys.error(s"schema evolution is ADD-ONLY: batch $batchId lacks " +
              s"published fact column '${f.name}' (${f.dataType.sql}) — a " +
              "published column must ride every later batch"))
          require(got.dataType == f.dataType ||
              StarStore.widens(f.dataType, got.dataType),
            s"fact column '${f.name}' changed type: published ${f.dataType.sql}" +
              s", batch $batchId carries ${got.dataType.sql} — only lossless " +
              "widening (byte->short->int->long, float->double) evolves a " +
              "published type")
          // a widened column records the WIDER type from this version on
          f.copy(dataType = got.dataType)
        } ++
          newFact.schema.fields.filterNot(f => ps.fieldNames.contains(f.name))
            .map(_.copy(nullable = true))) // null-filled in pre-evolution deltas
      }

    val nextV = f"v${prior.map(_._1.drop(1).toLong).getOrElse(0L) + 1}%08d"
    val published = stageAndCommit(batchId, nextV, newFact,
      stageDims = tmp => Dimensions.zip(dims).foreach { case (d, df) =>
        df.write.mode("overwrite").parquet(s"$tmp/${d.table}")
      },
      manifestFor = deltaTmp => Manifest(
        // metadata-only count of the staged delta
        maxFactId + spark.read.parquet(deltaTmp).count(),
        prior.map(_._2.batches).getOrElse(Seq.empty) :+ batchId,
        prior.map(_._2.applied).getOrElse(Seq.empty) :+ batchId,
        Some(mergedSchema.toDDL)))
    dims.foreach(_.unpersist())
    published.map { m =>
      // Post-commit maintenance. The batch IS committed at this point, so
      // a failure below must not escape into runBatch's lost-race retry —
      // the retried attempt would hit the replay check and report 0
      // appended for a batch that appended rows. Maintenance is idempotent
      // and repeats on every publish, so skipping one round when a
      // concurrent writer races our sweep/compact loses nothing.
      try {
        // retention sweep: retire version dirs beyond the time-travel window
        // (fact data files are shared and never copied, so with the default
        // retainVersions=1 this only removes tiny dim snapshots).
        sweepVersions()
        // Keep the live delta count bounded: the fact is a union over live
        // batch dirs, so an unbounded batch history degrades every read.
        // The `applied` list survives compaction — replays stay no-ops.
        if (m.batches.length > autoCompactAfter) compact(): Unit
        else refreshViews()
      } catch {
        // NonFatal, not a type list: ANY maintenance failure after the
        // commit (a transient delete IOException, a compaction losing its
        // own claim race) must stay here — escaping would report 0 appended
        // for a committed batch via the retry's replay check. But stay
        // VISIBLE: a persistently failing sweep/compact (misconfigured
        // permissions on versions/) otherwise accumulates version dirs and
        // deltas unboundedly with no observable signal
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(classOf[StarStore]).warn(
            s"post-commit maintenance failed (commit is intact; " +
              s"sweep/compact will retry next publish): $e")
      }
      m.maxFactId - maxFactId
    }
  }

  /** Compact the live fact deltas into one partitioned directory and publish
    * a version whose live list is just the compacted dir. The `applied`
    * history is preserved, so replaying any pre-compaction batch id remains
    * a no-op. Run when the batch count makes the union plan / file listing
    * noticeable. */
  def compact(): Long = {
    val v = live
    val m = manifest(v)
    if (m.batches.length <= 1) return 0L
    val compactId = s"compact_${v.drop(1).toLong + 1}"
    val nextV = f"v${v.drop(1).toLong + 1}%08d"
    val published = stageAndCommit(compactId, nextV, factOf(v),
      // dims are unchanged — copy the snapshots into the new version dir
      stageDims = tmp => Dimensions.foreach { d =>
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new Path(s"${versionDir(v)}/${d.table}"), fs,
          new Path(s"$tmp/${d.table}"), false,
          spark.sparkContext.hadoopConfiguration)
      },
      // compactId joins the `applied` history: the sweep reclaims aged-out
      // deltas by applied-membership, and a compacted dir must stay
      // reclaimable once a LATER compaction supersedes it. The compacted
      // delta materializes the reconciled (null-filled) frame, so the
      // schema contract rides through compaction unchanged.
      manifestFor = _ => Manifest(m.maxFactId, Seq(compactId),
        m.applied :+ compactId, m.factSchema))
    if (published.isEmpty) return 0L // superseded; the next publish re-triggers
    // pre-compaction delta dirs are reclaimed by the sweep only once no
    // RETAINED version still references them — time-travel reads into the
    // pre-compaction window keep working until it ages out
    sweepVersions()
    refreshViews()
    m.batches.length.toLong
  }
}

object StarStore {
  /** Live-delta bound before auto-compaction kicks in: high enough that
    * steady-state ingest rarely pays a compaction, low enough that the
    * fact-union plan stays a handful of parquet roots. */
  val DefaultAutoCompactAfter: Int = 16

  /** A dimension: its table (version subdir and view name), the natural key
    * it upserts on, and its surrogate-key column. */
  private final case class DimSpec(table: String, naturalKey: String,
                                   skeyCol: String)

  private val DimDate = DimSpec("dim_date", "DATETIME", "DATETIME_SKEY")
  private val DimPlatform = DimSpec("dim_platform", "PLATFORM", "PLATFORM_SKEY")
  private val DimSite = DimSpec("dim_site", "SITE", "SITE_SKEY")
  private val DimTitle = DimSpec("dim_title", "TITLE", "TITLE_SKEY")

  /** Every dim, in [[Fact.resolveSkeys]]'s argument order. */
  private val Dimensions: Seq[DimSpec] =
    Seq(DimDate, DimPlatform, DimSite, DimTitle)

  private val FactTable = "fact"

  /** The lossless type-widening lattice schema evolution accepts
    * (byte→short→int→long along the integral chain, float→double): every
    * value of `from` is exactly representable in `to`, so up-casting a
    * pre-widening delta at read time loses nothing. Anything else —
    * narrowing, integral↔floating, string↔anything — is a REtype, which
    * evolution refuses. */
  private[etl] def widens(from: org.apache.spark.sql.types.DataType,
                          to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    val i = integral.indexOf(from)
    (i >= 0 && integral.indexOf(to) > i) ||
      (from == FloatType && to == DoubleType)
  }

  /** Bound on concurrent-publish recomputes in [[StarStore.runBatch]] —
    * each retry means another writer committed first, so hitting the bound
    * means 5+ publishes landed during this batch's compute: a pathological
    * contention level worth failing loudly over. */
  val MaxPublishRetries: Int = 5

  /** Age past which a claim file with NO version dir is a crashed claimer
    * (a live claim spans only the claim→rename gap, milliseconds): broken
    * by the next writer. Generous so a stalled-but-alive writer is never
    * raced on any realistic filesystem hiccup; the claim-token re-check
    * before rename backstops even that. */
  val StaleClaimMs: Long = 5L * 60 * 1000

  final case class Manifest(maxFactId: Long, batches: Seq[String],
                            applied: Seq[String],
                            factSchema: Option[String] = None) {
    def serialized: String =
      s"maxFactId=$maxFactId\nbatches=${batches.mkString(",")}\n" +
        s"applied=${applied.mkString(",")}\n" +
        factSchema.map(s => s"factSchema=$s\n").getOrElse("")
  }

  def apply(spark: SparkSession, root: String,
            autoCompactAfter: Int = DefaultAutoCompactAfter,
            retainVersions: Int = 1): StarStore =
    new StarStore(spark, root, autoCompactAfter, retainVersions)
}
