package graft.etl

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one commit primitive for persisted state — the create-if-absent
  * commit a table-format log is built on (Delta Lake, Armbrust et al.,
  * VLDB 2020), at filesystem scale:
  *
  *  - [[claim]]: an atomic create-if-absent CLAIM file holding a per-writer
  *    token; whoever creates it owns the right to commit. Claims are taken
  *    LATE (right before the commit point), so a healthy claim lives for
  *    milliseconds;
  *  - [[stillOwned]]: the token re-check immediately before the commit
  *    point — a claim broken and re-taken mid-gap aborts the original
  *    writer instead of racing two commits;
  *  - [[stale]] / [[breakStale]]: the age gate past which an uncommitted
  *    claim is a crashed claimer's and is broken;
  *  - [[replace]] / [[readText]]: a small file rewritten through a sibling
  *    temp and a rename, so a crash leaves the old text or the new text,
  *    never a torn one;
  *  - [[swap]] / [[rollForward]]: the claimed in-place swap of a directory
  *    store's files, built from the above.
  *
  * [[StarStore]] claims version names with it; served-store maintenance
  * (`StoreMeta.compact`/`delete`, the `Dedup.*DeleteAt` forms,
  * `Similarity.hnswRebuildAt`) commits through [[swap]], and
  * `StoreMeta.open`, the one served-store sidecar read, rolls a crashed
  * swap forward before it reads; every sidecar rewrite goes through
  * [[replace]]. */
object Commit {

  /** Age past which a claim that never committed is a crashed claimer (a
    * live claim spans only the claim→commit gap, milliseconds): broken by
    * the next writer. Generous so a stalled-but-alive writer is never
    * raced on any realistic filesystem hiccup; the token re-check before
    * the commit point backstops even that. Staging debris is reclaimed by
    * the same gate. */
  val StaleClaimMs: Long = 5L * 60 * 1000

  /** The age gate every crash-debris reclaim and stale-claim break uses. */
  def stale(st: FileStatus): Boolean =
    System.currentTimeMillis() - st.getModificationTime > StaleClaimMs

  // ── claims ───────────────────────────────────────────────────────────────

  /** Atomically create `claim`; Some(writer token) on success, None when it
    * already exists (lost the race). On a `file:` store the create uses
    * O_EXCL via NIO (Hadoop's RawLocalFileSystem create-if-absent is
    * check-then-act, not atomic); elsewhere `FileSystem.create(overwrite =
    * false)` — atomic on HDFS and object stores with conditional puts. */
  def claim(fs: FileSystem, claim: Path): Option[String] = {
    fs.mkdirs(claim.getParent)
    val token = java.util.UUID.randomUUID().toString
    var created = false
    try {
      val out =
        if (fs.getScheme == "file")
          java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(claim.toUri.getPath),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
        else fs.create(claim, false) // throws when already claimed
      created = true
      try out.write(token.getBytes("UTF-8")) finally out.close()
      Some(token)
    } catch {
      case _: java.io.IOException =>
        // lost the race — or create-if-absent SUCCEEDED and our own write
        // died: that torn claim is OURS to remove, or it wedges the name
        // for StaleClaimMs as an orphan no writer owns (the caller sees a
        // clean lost race and retries)
        if (created)
          try fs.delete(claim, false): Unit
          catch { case _: java.io.IOException => () }
        None
    }
  }

  /** The claim still holds `token`: re-checked immediately before the
    * commit point — if a stale-claim break re-assigned it while we were
    * between claim and commit, abort rather than commit onto a name
    * someone else now owns. Reads retry a couple of times: a single
    * transient IO hiccup must not make a writer abandon a claim it
    * actually holds (the orphaned claim would wedge the name for
    * StaleClaimMs). */
  def stillOwned(fs: FileSystem, claim: Path, token: String): Boolean = {
    var attempt = 0
    while (attempt < 3) {
      try return readOnce(fs, claim).contains(token) // absent: broken claim
      catch {
        case _: java.io.IOException => attempt += 1; Thread.sleep(100L)
      }
    }
    false
  }

  /** Break a CRASHED writer's claim, or reclaim its debris: `p` exists,
    * what it guarded never `committed`, and its status — fetched now, not
    * from an older listing — is older than [[StaleClaimMs]]. Returns true
    * if `p` was removed. */
  def breakStale(fs: FileSystem, p: Path, committed: => Boolean): Boolean =
    try !committed && stale(fs.getFileStatus(p)) && fs.delete(p, true)
    catch { case _: java.io.IOException => false }

  /** Run one optimistic commit `attempt` until it lands (Some), at most
    * `retries` + 1 times. None means another writer committed first: back
    * off linearly (the winner is mid-swap or just ahead) and recompute
    * from its snapshot. A winner can also retire the exact snapshot an
    * attempt was reading — a lost race wearing an IO error, retried too;
    * the LAST attempt rethrows, so a genuine persistent IO fault still
    * surfaces as itself rather than as "pathological contention". */
  def retrying[T](retries: Int, what: => String)(attempt: => Option[T]): T = {
    var i = 0
    while (i <= retries) {
      val landed =
        try attempt
        catch {
          case _: java.io.FileNotFoundException | _: org.apache.spark.SparkException
            if i < retries => None
        }
      if (landed.isDefined) return landed.get
      i += 1
      Thread.sleep(50L * i)
    }
    sys.error(s"$what gave up after $retries concurrent-commit retries")
  }

  // ── small files ──────────────────────────────────────────────────────────

  /** Write `text` to `p`, overwriting — for a file no reader resolves yet
    * (inside a staged dir, or the temp of [[replace]]). */
  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def tempOf(p: Path) = new Path(p.getParent, p.getName + "._tmp")

  /** Replace the small file `p` with `text`: write the sibling temp
    * `<name>._tmp`, delete `p`, rename the temp over it. A crash mid-write
    * leaves `p` whole; a crash between the delete and the rename leaves the
    * whole temp, which [[readText]] reads in its place. */
  def replace(fs: FileSystem, p: Path, text: String): Unit = {
    write(fs, tempOf(p), text)
    fs.delete(p, false)
    move(fs, tempOf(p), p)
  }

  /** Text of a file written by [[replace]]; None when neither it nor its
    * temp exists. The temp is read only while `p` is absent — the window
    * between a replace's delete and rename — and `p` is read once more in
    * case that rename landed in between. */
  def readText(fs: FileSystem, p: Path): Option[String] =
    readOnce(fs, p).orElse(readOnce(fs, tempOf(p))).orElse(readOnce(fs, p))

  private def readOnce(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Rename `from` to `to`; fails loudly when the filesystem refuses. */
  def move(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename failed: $from -> $to")

  // ── claimed swap of a directory store ───────────────────────────────────
  //
  // A store directory's files are replaced in one claimed swap:
  //   <dir>/_graft_stage_<nonce>/     the rewrite, staged by one attempt
  //   <dir>/_graft_commit.claim       the claim (token), taken late
  //   <dir>/_graft_intent_<token>     the intent — COMMITTED once it exists:
  //                                   stage=, move= (staged part files),
  //                                   retire= (entries of <dir> replaced)
  // The roll-forward moves the staged files in, deletes the retired ones,
  // then deletes the stage, the intent and the claim. Every step is
  // idempotent, so whoever finds a committed intent (the committer, or the
  // next open after a crash) finishes it: readers see the old files or the
  // new ones — except a reader that overlaps a live roll-forward, which can
  // see both sets for a moment (new files move in before old ones go, so
  // rows are never lost). All names are `_`-prefixed, invisible to parquet
  // readers of <dir>.

  private val ClaimName = "_graft_commit.claim"
  private val StagePrefix = "_graft_stage_"
  private val IntentPrefix = "_graft_intent_"

  /** Swap `dir`'s entries `retire` (direct children; dirs go recursively)
    * for the part files `writeStage` writes into a fresh attempt-unique
    * stage dir. Then claims `dir` (finishing a crashed predecessor's
    * committed swap, breaking a stale claim), reclaims stale staging
    * debris, and validates that every `retire` entry still exists — one
    * gone means another maintainer committed over this attempt's
    * snapshot. true when committed; false when superseded (claim held, or
    * the snapshot moved), with the stage deleted. */
  def swap(fs: FileSystem, dir: Path, retire: Seq[Path])(
      writeStage: Path => Unit): Boolean = {
    val stage =
      new Path(dir, StagePrefix + java.util.UUID.randomUUID().toString.take(8))
    try writeStage(stage)
    catch { case scala.util.control.NonFatal(e) => fs.delete(stage, true); throw e }
    val claimPath = new Path(dir, ClaimName)
    val token = claim(fs, claimPath).orElse {
      rollForward(fs, dir) // frees the claim of a crashed committer
      claim(fs, claimPath)
    }.getOrElse { fs.delete(stage, true); return false }
    // ONE listing validates the snapshot and finds the debris
    val entries = fs.listStatus(dir)
    entries.foreach { st =>
      val n = st.getPath.getName
      if ((n.startsWith(StagePrefix) || n.startsWith(IntentPrefix)) &&
          n != stage.getName && stale(st)) fs.delete(st.getPath, true)
    }
    val names = entries.map(_.getPath.getName).toSet
    if (!retire.forall(p => names(p.getName)) ||
        !stillOwned(fs, claimPath, token)) {
      fs.delete(stage, true)
      release(fs, claimPath, token)
      return false
    }
    val moves = fs.listStatus(stage).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted
    require(moves.nonEmpty, s"store rewrite wrote no part files under $stage")
    val intent = (s"stage=${stage.getName}" +: moves.map("move=" + _)) ++
      retire.map("retire=" + _.getName)
    replace(fs, new Path(dir, IntentPrefix + token),
      intent.mkString("", "\n", "\n")) // the commit point
    rollForward(fs, dir)
    true
  }

  /** Finish the committed swap under `dir`, if any (see [[swap]]), and
    * break a stale claim that never reached its intent: called by the
    * committer and wherever a served store is opened, so the next open
    * after a crash at any step sees exactly the old or the new files. One
    * claim probe when nothing is pending. */
  def rollForward(fs: FileSystem, dir: Path): Unit = {
    val claimPath = new Path(dir, ClaimName)
    readOnce(fs, claimPath).foreach { token =>
      val intentPath = new Path(dir, IntentPrefix + token)
      readOnce(fs, intentPath) match {
        case None => breakStale(fs, claimPath, fs.exists(intentPath))
        case Some(text) =>
          // stage= first, then every move= before any retire=
          val lines = text.linesIterator.map(_.split("=", 2)).toSeq
          val stage = new Path(dir, lines.head(1))
          lines.tail.foreach {
            case Array("move", n) =>
              val (from, to) = (new Path(stage, n), new Path(dir, n))
              if (fs.exists(from)) move(fs, from, to)
              else require(fs.exists(to), s"staged file $n lost under $dir")
            case Array(_, n) => fs.delete(new Path(dir, n), true)
          }
          fs.delete(stage, true)
          fs.delete(intentPath, false)
          release(fs, claimPath, token)
      }
    }
  }

  /** Delete a claim that still holds `token`. A compare-then-delete: the
    * residual race of any lock-free filesystem claim (the owner releasing
    * and a successor claiming between the read and the delete) is
    * instruction-level, and the successor's own re-check before its intent
    * narrows it further. */
  private def release(fs: FileSystem, claimPath: Path, token: String): Unit =
    if (readOnce(fs, claimPath).contains(token)) fs.delete(claimPath, false): Unit
}
