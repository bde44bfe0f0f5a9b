package graft.ext

import graft.etl.Commit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Geometry manifest for SERVED stores — the contract that travels WITH
  * the state.
  *
  * Every materialized index in this library (the banded minhash store, the
  * perceptual-fingerprint store, pinned IVF centroids, the prebuilt HNSW
  * frame) bakes construction parameters into its ROWS but, without this,
  * persisted nothing that says WHICH parameters: probing a 16-hash banded
  * store with numHashes=8, or a dHash store with audio prints, just joins
  * on (band, v) and returns near-zero matches — missed duplicates, no
  * error. The sidecar (`_graft_store_meta.json`, the `_graft_manifest.json`
  * convention from [[Layout]]) records the store kind and its geometry
  * fields; `check` fails LOUDLY on any drift, listing every mismatched
  * field, so a wrong-geometry probe is an exception instead of a silent
  * wrong answer.
  *
  * Values are restricted to a conservative token alphabet at write time —
  * the sidecar is engine-portable JSON that round-trips through a
  * five-line parser, and geometry values (ints, family names, tokenizer
  * ids) never need more. */
object StoreMeta {

  /** Sidecar filename, next to the store's data files. */
  val FileName = "_graft_store_meta.json"

  private val TokenRe = "[A-Za-z0-9._:+-]*".r

  private def requireToken(s: String, what: String): Unit =
    require(TokenRe.matches(s),
      s"store-meta $what must match ${TokenRe.regex}: '$s'")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write the sidecar (replaces — geometry is immutable for a store's
    * lifetime, so a rewrite only ever restates the same contract). */
  def write(spark: SparkSession, dir: String, kind: String,
            fields: Map[String, String]): Unit = {
    requireToken(kind, "kind")
    fields.foreach { case (k, v) =>
      requireToken(k, "field name"); requireToken(v, s"field '$k' value")
    }
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }
      .mkString(s"""{"kind":"$kind","fields":{""", ",", "}}")
    Commit.replace(fsOf(spark, dir), new Path(dir, FileName), json)
  }

  /** Read the sidecar: Some((kind, fields)) or None when absent (a legacy
    * store written before the convention). Opening a store through its
    * sidecar first finishes a maintenance swap a crash left committed but
    * unapplied ([[Commit.rollForward]]), so every open sees exactly the old
    * or the new files of the last [[compact]]/[[delete]]/rebuild. */
  def read(spark: SparkSession, dir: String)
      : Option[(String, Map[String, String])] = {
    val fs = fsOf(spark, dir)
    Commit.rollForward(fs, new Path(dir))
    Commit.readText(fs, new Path(dir, FileName)).map { json =>
      // token-alphabet values by construction: every "k":"v" pair is literal
      val pairs = "\"([A-Za-z0-9._:+-]*)\"\\s*:\\s*\"([A-Za-z0-9._:+-]*)\"".r
        .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
      val kind = pairs.collectFirst { case ("kind", v) => v }
        .getOrElse(sys.error(s"malformed $FileName under $dir: $json"))
      (kind, pairs.filterNot(_._1 == "kind").toMap)
    }
  }

  /** Open a served store of `kind` ([[read]], roll-forward included) and
    * return its geometry fields — the one sidecar open every served-store
    * entry point goes through. Loud when the sidecar is absent (probing
    * unknown geometry is the silent-miss hole this exists to close) or
    * names another kind: the message names the directory, the expected
    * kind (`what` describes it) and the `writer` that makes such a store. */
  def open(spark: SparkSession, dir: String, kind: String, what: String,
           writer: String): Map[String, String] = {
    val (got, fields) = read(spark, dir).getOrElse(sys.error(
      s"no $FileName under $dir — cannot assume the geometry of a '$kind' " +
        s"store; write it with $writer"))
    require(got == kind, s"store kind mismatch under $dir: store is " +
      s"'$got', not $what — write it with $writer")
    fields
  }

  /** Verify a store's sidecar against the geometry a probe is about to
    * assume ([[open]]). Throws with the FULL field diff on any drift. */
  def check(spark: SparkSession, dir: String, kind: String,
            expected: Map[String, String]): Unit =
    checked(spark, dir, kind, expected): Unit

  /** [[check]] returning the sidecar's fields, for a caller that reads more
    * of them than it verifies — one sidecar open, not a check plus a read. */
  private[ext] def checked(spark: SparkSession, dir: String, kind: String,
                           expected: Map[String, String])
      : Map[String, String] = {
    val got = open(spark, dir, kind, s"'$kind'", "its meta-writing API " +
      "(or StoreMeta.write a sidecar for legacy state)")
    val drifted = expected.toSeq.sortBy(_._1).flatMap { case (k, v) =>
      got.get(k) match {
        case Some(`v`) => None
        case Some(other) => Some(s"$k: store=$other probe=$v")
        case None => Some(s"$k: store=<absent> probe=$v")
      }
    }
    require(drifted.isEmpty,
      s"store geometry mismatch under $dir (kind=$kind) — probing with " +
        s"drifted parameters returns silently near-empty matches, refusing: " +
        drifted.mkString("; "))
    got
  }

  /** Compact a served store DIRECTORY in place: rewrite the parquet part
    * files of the current snapshot into `targetFiles` files. Rows are
    * preserved exactly (no re-capping, no dedup — a probe before and after
    * is identical by construction) and the geometry sidecar, a Dictionary
    * lexicon sidecar, and any other `_`-prefixed metadata are untouched,
    * so the store's contract survives verbatim.
    *
    * Why it exists: `*AppendAt` maintenance parquet-APPENDS each batch —
    * a year of hourly batches is ~10k file groups, and at 100 TB the probe
    * pays that in driver listing time and task-launch overhead long before
    * it pays it in bytes. Compaction is the standard counter-move
    * (Delta OPTIMIZE / Iceberg rewrite_data_files), done here at the
    * directory-store level.
    *
    * Crash safety and concurrency ([[Commit.swap]]): the rewrite is staged
    * under an attempt-unique `_`-prefixed dir, then committed under a
    * claim on the store by an intent record, and rolled forward — move the
    * rewrite in, retire EXACTLY the files the snapshot read
    * (`inputFiles`). A batch appended while compaction runs is neither
    * read nor retired, so append-during-compact loses nothing. After a
    * crash at any step, the next open through the sidecar sees exactly
    * the old rows or exactly the new ones. Concurrent maintainers
    * serialize on the claim: a compaction whose snapshot another
    * [[compact]]/[[delete]] already retired is superseded and returns 0.
    * The one window left is a reader that overlaps a live swap — it can
    * transiently double-see rows (new files move in before old ones go),
    * never lose them; run probes in the same maintenance window discipline
    * as any parquet-dir rewrite.
    *
    * Returns the number of snapshot files rewritten (0 = already at or
    * under `targetFiles`, or superseded — nothing touched). */
  def compact(spark: SparkSession, dir: String, targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, s"targetFiles must be >= 1: $targetFiles")
    // the sidecar is the proof this is a served store, not an arbitrary
    // parquet dir a caller is about to rewrite by accident
    read(spark, dir).getOrElse(sys.error(
      s"no $FileName under $dir — compact() maintains SERVED stores; " +
        "write the store with its meta-writing API first"))
    Commit.retrying(graft.etl.StarStore.MaxPublishRetries, s"compact at $dir") {
      val df = spark.read.parquet(dir)
      val snapshot = df.inputFiles.toSeq
      Some(if (snapshot.length > targetFiles &&
          swapRewrite(spark, dir, df.repartition(targetFiles), snapshot))
        snapshot.length.toLong
      else 0L) // nothing to do, or superseded
    }
  }

  /** Delete rows from a served store DIRECTORY: every row whose `idCol`
    * appears in `ids` (a one-column frame) is removed, with the same
    * claimed snapshot swap as [[compact]] (sidecars untouched, files not
    * in the snapshot neither read nor retired, exactly the old or the new
    * rows after a crash). A delete whose snapshot a concurrent maintainer
    * retired recomputes from the fresh snapshot, at most
    * [[graft.etl.StarStore.MaxPublishRetries]] times — so concurrent
    * deletes of disjoint ids both land, and a delete racing a compaction
    * never revives its victims. This is the right-of-erasure /
    * retract-bad-entity maintenance op the append-only store family
    * otherwise lacks.
    *
    * Semantics are ROW deletion, deliberately: for a capped banded store,
    * removing a bucket representative does NOT re-admit another entity
    * (non-representative signatures were never persisted — re-derive from
    * the corpus and rebuild if occupancy must be restored); recall for the
    * remaining entities is unchanged, and deleted entities simply stop
    * being matchable. The rewrite keeps the snapshot's file count (a
    * 100 TB store is not collapsed to one file by a deletion); follow with
    * [[compact]] if the delete was large.
    *
    * Returns the number of rows deleted. */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
             idCol: String): Long = {
    read(spark, dir).getOrElse(sys.error(
      s"no $FileName under $dir — delete() maintains SERVED stores; " +
        "write the store with its meta-writing API first"))
    require(ids.columns.length == 1,
      s"ids must be a ONE-column frame of keys to delete, got " +
        s"${ids.columns.mkString("(", ", ", ")")}")
    val victims = ids.select(org.apache.spark.sql.functions
      .col(ids.columns.head).as(idCol)).distinct()
    Commit.retrying(graft.etl.StarStore.MaxPublishRetries, s"delete at $dir") {
      val df = spark.read.parquet(dir)
      require(df.columns.contains(idCol),
        s"store under $dir has no column '$idCol' " +
          s"(columns: ${df.columns.mkString(", ")})")
      val snapshot = df.inputFiles.toSeq
      // erasure requests routinely name already-gone ids: a semi-join count
      // decides whether anything matches BEFORE paying the full-store
      // rewrite (the count is one scan; the rewrite is scan + write + swap)
      val hit = df.join(victims, Seq(idCol), "left_semi").count()
      if (hit == 0) Some(0L)
      else if (swapRewrite(spark, dir, df.join(victims, Seq(idCol), "left_anti")
          .repartition(snapshot.length), snapshot)) Some(hit)
      else None // superseded: recompute from the fresh snapshot
    }
  }

  /** Stage `out` under `dir` and swap it in for `snapshot` (file URIs;
    * a directory goes recursively) in one claimed [[Commit.swap]]; false
    * when superseded. */
  private[ext] def swapRewrite(spark: SparkSession, dir: String, out: DataFrame,
                               snapshot: Seq[String]): Boolean = {
    Commit.swap(fsOf(spark, dir), new Path(dir),
      snapshot.map(u => new Path(new java.net.URI(u))))(
      stage => out.write.parquet(stage.toString))
  }
}
