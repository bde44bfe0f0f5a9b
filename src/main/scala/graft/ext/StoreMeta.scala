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
  * fields, so a wrong-geometry probe is an exception instead of a silent
  * wrong answer.
  *
  * One way in: [[open]] is the only sidecar read. Every served op opens
  * its store through it once — a crashed maintenance swap rolled forward,
  * the kind checked, any drift refused LOUDLY with every mismatched field
  * listed — and hands the geometry it read to the code below it. Each
  * store kind ([[Banded]], [[Weighted]], [[Hnsw]], [[Fingerprint]],
  * [[Centroids]]) states its field list once, as a [[Kind]]: its writer
  * ([[Kind.put]]) and every open share that one conversion between a
  * geometry and its sidecar fields.
  *
  * Values are restricted to a conservative token alphabet at write time —
  * the sidecar is engine-portable JSON that round-trips through a
  * five-line parser, and geometry values (ints, family names, tokenizer
  * ids) never need more. */
object StoreMeta {

  /** Sidecar filename, next to the store's data files. */
  val FileName = "_graft_store_meta.json"

  /** A store's sidecar fields, by name. */
  type Fields = Map[String, String]

  private val TokenRe = "[A-Za-z0-9._:+-]*".r

  private def requireToken(s: String, what: String): Unit =
    require(TokenRe.matches(s),
      s"store-meta $what must match ${TokenRe.regex}: '$s'")

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write the sidecar (replaces — geometry is immutable for a store's
    * lifetime, so a rewrite only ever restates the same contract). */
  def write(spark: SparkSession, dir: String, kind: String,
            fields: Fields): Unit = {
    requireToken(kind, "kind")
    fields.foreach { case (k, v) =>
      requireToken(k, "field name"); requireToken(v, s"field '$k' value")
    }
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }
      .mkString(s"""{"kind":"$kind","fields":{""", ",", "}}")
    Commit.replace(fsOf(spark, dir), new Path(dir, FileName), json)
  }

  /** A served-store kind: the `name` its sidecar records, how an [[open]]
    * that refuses a store names the kind (`what`) and its `writer`, and its
    * field list — the case-class fields of its geometry `G` plus the kind's
    * `constants`, stated once: [[fields]] writes a geometry's fields by
    * their case-class names, and `read` is the one reader of them (the
    * geometry recorded in the sidecar fields of the store under a dir).
    * A geometry field's name is its on-disk name: renaming one breaks
    * every store already written (StoreMetaSpec pins the sidecar bytes). */
  class Kind[G <: Product](val name: String, val what: String,
      val writer: String, constants: (String, String)*)(
      private[StoreMeta] val read: (SparkSession, String, Fields) => G) {
    /** The sidecar fields of a store built with `g` (a tokenizer by id). */
    def fields(g: G): Fields = constants.toMap ++ g.productElementNames.zip(
      g.productIterator.map { case t: Tokenizer => t.id; case v => s"$v" })
    /** Write the sidecar of a store built with `g`, next to its data files,
      * and a Dictionary tokenizer's lexicon beside it
      * ([[Tokenizer.saveLexicon]]), so an open rebuilds the tokenizer
      * ([[Tokenizer.fromIdAt]]) with nothing re-supplied. */
    def put(spark: SparkSession, dir: String, g: G): Unit = {
      write(spark, dir, name, fields(g))
      g.productIterator.collect { case t: Tokenizer => t }
        .foreach(Tokenizer.saveLexicon(spark, dir, _))
    }
    private[StoreMeta] def missing: String =
      s"cannot assume the geometry of a '$name' store; write it with $writer"
  }

  /** Any served store, as the maintenance `op` ([[compact]], [[delete]])
    * opens it: its raw fields. */
  private final class Maintained(op: String)
      extends Kind[Tuple1[Fields]](null, "", "")((_, _, f) => Tuple1(f)) {
    override def fields(g: Tuple1[Fields]): Fields = g._1
    override private[StoreMeta] def missing: String = s"$op() maintains " +
      "SERVED stores; write the store with its meta-writing API first"
  }

  /** Open a served store of `kind` — the one sidecar read; every served op
    * opens its store through it once and hands the geometry down. It first
    * finishes a maintenance swap a crash left committed but unapplied
    * ([[Commit.rollForward]]), so every open sees exactly the old or the
    * new files of the last [[compact]]/[[delete]]/rebuild. Loud when the
    * sidecar is absent (probing unknown geometry is the silent-miss hole
    * this exists to close) or names another kind, and on any drift between
    * the sidecar and the geometry a probe is about to assume — `assume` of
    * the store's own, so a probe fixes only the fields it knows; the
    * message lists every drifted field. Returns the store's geometry. */
  def open[G <: Product](spark: SparkSession, dir: String, kind: Kind[G],
                         assume: G => G = (g: G) => g): G = {
    val fs = fsOf(spark, dir)
    Commit.rollForward(fs, new Path(dir))
    val json = Commit.readText(fs, new Path(dir, FileName))
      .getOrElse(sys.error(s"no $FileName under $dir — ${kind.missing}"))
    // token-alphabet values by construction: every "k":"v" pair is literal
    val pairs = "\"([A-Za-z0-9._:+-]*)\"\\s*:\\s*\"([A-Za-z0-9._:+-]*)\"".r
      .findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toSeq
    val got = pairs.collectFirst { case ("kind", v) => v }
      .getOrElse(sys.error(s"malformed $FileName under $dir: $json"))
    require(kind.name == null || got == kind.name, s"store kind mismatch " +
      s"under $dir: store is '$got', not ${kind.what} — write it with " +
      kind.writer)
    val stored = pairs.filterNot(_._1 == "kind").toMap
    val g = kind.read(spark, dir, stored.withDefault(n =>
      sys.error(s"$got store under $dir records no $n")))
    val drifted = kind.fields(assume(g)).toSeq.sorted.collect {
      case (k, v) if !stored.get(k).contains(v) =>
        s"$k: store=${stored.getOrElse(k, "<absent>")} probe=$v"
    }
    require(drifted.isEmpty,
      s"store geometry mismatch under $dir (kind=$got) — probing with " +
        s"drifted parameters returns silently near-empty matches, refusing: " +
        drifted.mkString("; "))
    g
  }

  /** [[Dedup.minhashStoreBandedWrite]]'s geometry. */
  final case class Banded(shingleLen: Int, numHashes: Int, bandRows: Int,
                          cap: Int, tokenizer: Tokenizer)
  object Banded extends Kind[Banded]("minhash-banded",
      "a banded minhash store", "minhashStoreBandedWrite",
      "family" -> "minhash-md5-60")((spark, dir, f) => new Banded(
    f("shingleLen").toInt, f("numHashes").toInt, f("bandRows").toInt,
    f("cap").toInt, Tokenizer.fromIdAt(spark, dir, f("tokenizer"))))

  /** [[FuzzyJoin.weightedStoreWrite]]'s geometry (unigram shingles). */
  final case class Weighted(numHashes: Int, quantK: Int, cap: Int,
                            tokenizer: Tokenizer)
  object Weighted extends Kind[Weighted]("wminhash-banded",
      "a weighted banded linkage store", "weightedStoreWrite",
      "family" -> "wminhash-md5-60", "shingleLen" -> "1")((spark, dir, f) =>
    new Weighted(f("numHashes").toInt, f("quantK").toInt, f("cap").toInt,
      Tokenizer.fromIdAt(spark, dir, f("tokenizer"))))

  /** [[Similarity.hnswSave]]'s geometry: the level-assignment law (m,
    * maxLevel, salt) a descent must share, and the build's knnK and bits,
    * which a rebuild reuses. */
  final case class Hnsw(m: Int, maxLevel: Int, salt: String, knnK: Int,
                        bits: Int)
  object Hnsw extends Kind[Hnsw]("hnsw", "hnsw", "hnswSave")((_, _, f) =>
    new Hnsw(f("m").toInt, f("maxLevel").toInt, f("salt"), f("knnK").toInt,
      f("bits").toInt))

  /** [[Dedup.fingerprintStoreWrite]]'s geometry: the producing hash's
    * family (64-bit prints) and the frame's column names. */
  final case class Fingerprint(family: String, idCol: String, fpCol: String)
  object Fingerprint extends Kind[Fingerprint]("fingerprint64",
      "'fingerprint64'", "fingerprintStoreWrite", "bits" -> "64")((_, _, f) =>
    new Fingerprint(f("family"), f("idCol"), f("fpCol")))

  /** [[Similarity.centroidsSave]]'s geometry: cell count and dimension. */
  final case class Centroids(nCells: Int, dim: Int)
  object Centroids extends Kind[Centroids]("ivf-centroids",
      "'ivf-centroids'", "centroidsSave")((_, _, f) =>
    new Centroids(f("nCells").toInt, f("dim").toInt))

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
    open(spark, dir, new Maintained("compact"))
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
    open(spark, dir, new Maintained("delete"))
    deleteOpened(spark, dir, ids, idCol)
  }

  /** [[delete]] from a store the caller already [[open]]ed. */
  private[ext] def deleteOpened(spark: SparkSession, dir: String,
                                ids: DataFrame, idCol: String): Long = {
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
