package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The served-store geometry contract: sidecars round-trip, drifted probes
  * throw with the field diff (instead of returning silently near-empty
  * matches), sidecar-driven probes equal direct-parameter calls. */
class StoreMetaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs = (0L until 40L).map(i =>
    (i, s"alpha beta gamma delta epsilon zeta token$i tail${i % 7}"))
    .toDF("doc_id", "text")

  test("sidecar round-trips kind and fields; token alphabet is enforced") {
    val dir = tmp("graft-meta-rt")
    StoreMeta.write(spark, dir, "minhash-banded",
      Map("numHashes" -> "16", "tokenizer" -> "script-aware"))
    assert(StoreMeta.read(spark, dir) ===
      Some(("minhash-banded",
        Map("numHashes" -> "16", "tokenizer" -> "script-aware"))))
    val e = intercept[IllegalArgumentException] {
      StoreMeta.write(spark, dir, "x", Map("k" -> "has space"))
    }
    assert(e.getMessage.contains("must match"))
  }

  test("check: missing sidecar, wrong kind, and drifted fields all throw " +
      "with the offending fields named") {
    val dir = tmp("graft-meta-chk")
    val missing = intercept[RuntimeException] {
      StoreMeta.check(spark, dir, "hnsw", Map("m" -> "8"))
    }
    assert(missing.getMessage.contains("no " + StoreMeta.FileName))
    StoreMeta.write(spark, dir, "hnsw", Map("m" -> "8", "salt" -> "hnsw"))
    StoreMeta.check(spark, dir, "hnsw", Map("m" -> "8")) // subset OK
    val kind = intercept[IllegalArgumentException] {
      StoreMeta.check(spark, dir, "fingerprint64", Map.empty)
    }
    assert(kind.getMessage.contains("kind mismatch"))
    val drift = intercept[IllegalArgumentException] {
      StoreMeta.check(spark, dir, "hnsw", Map("m" -> "16", "salt" -> "hnsw"))
    }
    assert(drift.getMessage.contains("m: store=8 probe=16"))
    val absent = intercept[IllegalArgumentException] {
      StoreMeta.check(spark, dir, "hnsw", Map("maxLevel" -> "2"))
    }
    assert(absent.getMessage.contains("maxLevel: store=<absent> probe=2"))
  }

  test("banded store: sidecar-driven probe equals the direct call; a " +
      "wrong-geometry open throws instead of silently missing duplicates") {
    val dir = tmp("graft-meta-banded")
    val store = docs.where(col("doc_id") < 30)
    val batch = docs.where(col("doc_id") >= 30)
    Dedup.minhashStoreBandedWrite(store, "doc_id", "text", dir,
      numHashes = 8, cap = 2)
    // sidecar-driven probe ≡ direct-parameter probe on the same frame
    val viaMeta = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch,
        "doc_id", "text")
      .orderBy("batch_id", "store_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val direct = Dedup.nearDupAgainstBandedStore(
        spark.read.parquet(dir), batch, "doc_id", "text", numHashes = 8)
      .orderBy("batch_id", "store_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(viaMeta === direct)
    assert(viaMeta.nonEmpty, "fixture should produce at least one candidate")
    // the silent-miss scenario, now loud: probe assumes 16 hashes
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 16, cap = 2)
    }
    assert(e.getMessage.contains("numHashes: store=8 probe=16"))
    // tokenizer drift is the same class of silent miss
    val t = intercept[IllegalArgumentException] {
      Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 8, cap = 2,
        tok = Tokenizer.ScriptAware)
    }
    assert(t.getMessage.contains("tokenizer: store=whitespace"))
    // matching geometry opens clean
    assert(Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 8, cap = 2)
      .count() > 0)
  }

  test("banded store: sidecar-driven append maintains the same state as " +
      "the direct append law") {
    val dirA = tmp("graft-meta-app-a")
    val base = docs.where(col("doc_id") < 20)
    val delta = docs.where(col("doc_id") >= 20 && col("doc_id") < 30)
    Dedup.minhashStoreBandedWrite(base, "doc_id", "text", dirA,
      numHashes = 8, cap = 2)
    Dedup.minhashStoreBandedAppendAt(spark, dirA, delta, "doc_id", "text")
    val maintained = spark.read.parquet(dirA)
      .select("band", "v", "store_id")
      .as[(Int, String, Long)].collect().toSeq.sorted
    // direct law over the same phases
    val expect = Dedup.minhashStoreBanded(base, "doc_id", "text",
        numHashes = 8, cap = 2)
      .unionByName(Dedup.minhashStoreBandedAppend(
        Dedup.minhashStoreBanded(base, "doc_id", "text",
          numHashes = 8, cap = 2),
        delta, "doc_id", "text", numHashes = 8, cap = 2))
      .select("band", "v", "store_id")
      .as[(Int, String, Long)].collect().toSeq.sorted
    assert(maintained === expect)
  }

  test("compact: rewrites the appended store to the target file count " +
      "with rows, probe results, sidecar, and drift law all unchanged; " +
      "an already-compact store and a sidecar-less dir are handled") {
    val dir = tmp("graft-meta-compact")
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") < 20),
      "doc_id", "text", dir, numHashes = 8, cap = 2)
    Dedup.minhashStoreBandedAppendAt(spark,
      dir, docs.where(col("doc_id") >= 20 && col("doc_id") < 25),
      "doc_id", "text")
    Dedup.minhashStoreBandedAppendAt(spark,
      dir, docs.where(col("doc_id") >= 25 && col("doc_id") < 30),
      "doc_id", "text")
    val batch = docs.where(col("doc_id") >= 30)
    def probe() = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch,
        "doc_id", "text")
      .as[(Long, Long, Int, Double)].collect().toSet
    def rows() = spark.read.parquet(dir)
      .select("band", "v", "store_id")
      .as[(Int, String, Long)].collect().toSeq.sorted
    val before = probe()
    val rowsBefore = rows()
    val filesBefore = spark.read.parquet(dir).inputFiles.length
    assert(filesBefore > 1, "appends must have fragmented the store")
    assert(StoreMeta.compact(spark, dir, targetFiles = 1) ===
      filesBefore.toLong)
    assert(spark.read.parquet(dir).inputFiles.length === 1)
    assert(rows() === rowsBefore, "compaction must preserve rows exactly")
    assert(probe() === before, "compaction must be invisible to the probe")
    // the contract survives: matching open succeeds, drift still throws
    assert(Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 8, cap = 2)
      .columns.contains("band"))
    intercept[IllegalArgumentException] {
      Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 16, cap = 2)
    }
    // no commit debris (stage, claim, intent): the only `_graft_` entry
    // left is the sidecar; idempotent second call is a no-op
    assert(new java.io.File(dir).list().filter(_.startsWith("_graft_")).toSeq ===
      Seq(StoreMeta.FileName))
    assert(StoreMeta.compact(spark, dir, targetFiles = 1) === 0L)
    val bare = tmp("graft-meta-compact-bare")
    docs.limit(5).write.mode("overwrite").parquet(bare)
    val e = intercept[RuntimeException] {
      StoreMeta.compact(spark, bare)
    }
    assert(e.getMessage.contains("no " + StoreMeta.FileName))
  }

  test("delete: removes exactly the named entities' rows in place — " +
      "deleted ids stop matching, survivors' probe rows are untouched, " +
      "the sidecar survives, and compact-after-delete still works") {
    val dir = tmp("graft-meta-del")
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") < 30),
      "doc_id", "text", dir, numHashes = 8, cap = 2)
    val batch = docs.where(col("doc_id") >= 30)
    def probe() = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch,
        "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Int, Double)].collect().toSet
    val before = probe()
    val victims = Seq(3L, 7L, 11L).toDF("doc_id")
    val storedVictimRows = spark.read.parquet(dir)
      .where(col("store_id").isin(3L, 7L, 11L)).count()
    assert(storedVictimRows > 0, "fixture must store the victims")
    assert(Dedup.minhashStoreBandedDeleteAt(spark, dir, victims) ===
      storedVictimRows)
    val after = probe()
    assert(after === before.filterNot(p => Set(3L, 7L, 11L)(p._2)),
      "delete must remove exactly the victims' matches")
    // sidecar intact: drift still refuses, matching open fine
    assert(Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 8, cap = 2)
      .columns.contains("band"))
    intercept[IllegalArgumentException] {
      Dedup.minhashStoreBandedOpen(spark, dir, numHashes = 16, cap = 2)
    }
    // deleting ids with no stored rows is a 0-row no-op
    assert(Dedup.minhashStoreBandedDeleteAt(spark, dir,
      Seq(999L).toDF("doc_id")) === 0L)
    // maintenance composes: compact after delete, probe unchanged
    if (spark.read.parquet(dir).inputFiles.length > 1)
      assert(StoreMeta.compact(spark, dir) > 0L)
    assert(probe() === after)
    // a multi-column ids frame is refused loudly
    val e = intercept[IllegalArgumentException] {
      StoreMeta.delete(spark, dir, docs, "store_id")
    }
    assert(e.getMessage.contains("ONE-column"))
  }

  test("fingerprint store: deleteAt keys on the sidecar's recorded id " +
      "column and verifies the family first") {
    val dir = tmp("graft-meta-fpdel")
    val fps = (0L until 12L).map(i => (i, i * 1000L)).toDF("asset", "fp")
    Dedup.fingerprintStoreWrite(fps, "asset", "fp", dir, "dhash-v1")
    intercept[IllegalArgumentException] {
      Dedup.fingerprintStoreDeleteAt(spark, dir,
        Seq(1L).toDF("asset"), "audio-window-prints")
    }
    assert(Dedup.fingerprintStoreDeleteAt(spark, dir,
      Seq(1L, 5L).toDF("asset"), "dhash-v1") === 2L)
    assert(spark.read.parquet(dir).select("asset").as[Long].collect().toSet
      === (0L until 12L).toSet -- Set(1L, 5L))
  }

  test("Dictionary store: the lexicon travels in its sidecar — probes " +
      "reconstruct the tokenizer with nothing supplied; a drifted or " +
      "missing wordlist refuses loudly") {
    // Thai words (water, rice, eat, person) — unsegmented-script text the
    // Dictionary law segments by maximal munch
    val nam = "น้ำ"; val khao = "ข้าว"
    val kin = "กิน"; val khon = "คน"
    val dict = Tokenizer.Dictionary(Seq(nam, khao, kin, khon))
    val words = Seq(nam, khao, kin, khon)
    val thaiDocs = (0L until 24L).map(i =>
      (i, (0 until 6).map(j => words(((i % 4).toInt + j) % 4)).mkString))
      .toDF("doc_id", "text")
    val dir = tmp("graft-meta-dict")
    val store = thaiDocs.where(col("doc_id") < 16)
    val batch = thaiDocs.where(col("doc_id") >= 16)
    Dedup.minhashStoreBandedWrite(store, "doc_id", "text", dir,
      shingleLen = 1, numHashes = 8, tok = dict)
    assert(new java.io.File(dir, Tokenizer.LexiconFileName).exists(),
      "lexicon sidecar must land next to the store")
    // probe with NOTHING supplied: the tokenizer comes from the sidecar
    val viaSidecar = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch,
        "doc_id", "text")
      .orderBy("batch_id", "store_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    val direct = Dedup.nearDupAgainstBandedStore(
        spark.read.parquet(dir), batch, "doc_id", "text",
        shingleLen = 1, numHashes = 8, tok = dict)
      .orderBy("batch_id", "store_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(viaSidecar === direct)
    assert(viaSidecar.nonEmpty,
      "fixture should produce at least one candidate")
    // a tampered wordlist hashes differently: refuse with both ids named.
    // Tamper THROUGH the Hadoop fs (as any real writer would) — a raw NIO
    // overwrite leaves the local fs's .crc sidecar stale and the read dies
    // in ChecksumException before the content-hash check can speak.
    val lexPath = java.nio.file.Paths.get(dir, Tokenizer.LexiconFileName)
    val original = java.nio.file.Files.readAllBytes(lexPath)
    val hPath = new org.apache.hadoop.fs.Path(dir, Tokenizer.LexiconFileName)
    val hFs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hWrite(bytes: Array[Byte]): Unit = {
      val out = hFs.create(hPath, true)
      try out.write(bytes) finally out.close()
    }
    hWrite((nam + "\n" + kin).getBytes("UTF-8"))
    val drift = intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch, "doc_id", "text")
    }
    assert(drift.getMessage.contains("drifted"))
    // a MISSING lexicon (a store written before the sidecar shipped) falls
    // back to the loud fromId error, which names the repair
    hFs.delete(hPath, false): Unit
    val missing = intercept[RuntimeException] {
      Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch, "doc_id", "text")
    }
    assert(missing.getMessage.contains("Dictionary"))
    assert(missing.getMessage.contains("saveLexicon"))
    // ... the repair: saveLexicon with the store's own wordlist, after which
    // the plain probe equals the direct one
    Tokenizer.saveLexicon(spark, dir, dict)
    val repaired = Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch,
        "doc_id", "text")
      .orderBy("batch_id", "store_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(repaired === direct)
    assert(java.nio.file.Files.readAllBytes(lexPath).toSeq === original.toSeq)
    // a repair with a WRONG wordlist still refuses (content-hash mismatch)
    Tokenizer.saveLexicon(spark, dir, Tokenizer.Dictionary(Seq(nam, kin)))
    val wrong = intercept[IllegalArgumentException] {
      Dedup.nearDupAgainstBandedStoreAt(spark, dir, batch, "doc_id", "text")
    }
    assert(wrong.getMessage.contains("drifted"))
    hWrite(original)
    assert(java.nio.file.Files.readAllBytes(lexPath).toSeq === original.toSeq)
  }

  test("fingerprint store: family mismatch throws; matching family opens") {
    val dir = tmp("graft-meta-fp")
    val fp = Seq((1L, 0x0f0fL), (2L, 0xf0f0L)).toDF("asset_id", "fp")
    Dedup.fingerprintStoreWrite(fp, "asset_id", "fp", dir, "image-dhash-9x8")
    val e = intercept[IllegalArgumentException] {
      Dedup.fingerprintStoreOpen(spark, dir, "audio-window-prints")
    }
    assert(e.getMessage.contains(
      "family: store=image-dhash-9x8 probe=audio-window-prints"))
    val opened = Dedup.fingerprintStoreOpen(spark, dir, "image-dhash-9x8")
    assert(opened.count() === 2)
    // and the opened frame probes exactly like the raw frame
    val batch = Seq((10L, 0x0f0eL)).toDF("asset_id", "fp")
    val hits = Dedup.hammingAgainstStore64(opened, batch, "asset_id", "fp",
        maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSeq
    assert(hits === Seq((10L, 1L, 1)))
  }

  test("hnsw index: level-geometry drift throws; matching open searches " +
      "byte-identical to the in-session index") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.hnswBuild(vecs, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val dir = tmp("graft-meta-hnsw")
    Similarity.hnswSave(idx, dir, knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.hnswOpen(spark, dir, m = 8, maxLevel = 1)
    }
    assert(e.getMessage.contains("m: store=4 probe=8"))
    val q = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def search(i: org.apache.spark.sql.DataFrame) =
      Similarity.hnswSearchPrebuilt(vecs, "vec_id", "embedding", i, q,
          "query_id", "embedding", k = 3, beamWidth = 6, m = 4, maxLevel = 1)
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
    assert(search(Similarity.hnswOpen(spark, dir, m = 4, maxLevel = 1))
      === search(idx))
  }

  test("hnsw tombstones: sidecar-driven search bans tombstoned ids from " +
      "results while their nodes still route; idempotent appends; a " +
      "non-hnsw dir refuses") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 1.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.hnswBuild(vecs, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val dir = tmp("graft-meta-hnsw-tomb")
    Similarity.hnswSave(idx, dir, knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val q = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def searchAt() =
      Similarity.hnswSearchPrebuiltAt(spark, dir, vecs, "vec_id",
          "embedding", q, "query_id", "embedding", k = 3, beamWidth = 6)
        .as[(Long, Int, Long, Double)].collect().toSeq
    // no tombstones yet: the served search equals the direct one
    val direct = Similarity.hnswSearchPrebuilt(vecs, "vec_id", "embedding",
        idx, q, "query_id", "embedding", k = 3, beamWidth = 6,
        m = 4, maxLevel = 1)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(searchAt().sorted === direct.sorted)
    // tombstone every id that surfaced for query 0 — the survivors must
    // backfill the k from the same beam, and no banned id may appear
    val banned = direct.filter(_._1 == 0L).map(_._3).toSet
    assert(Similarity.hnswTombstoneAt(spark, dir,
      banned.toSeq.toDF("vec_id")) === banned.size.toLong)
    val after = searchAt()
    assert(after.forall(r => !banned.contains(r._3)))
    assert(after.count(_._1 == 0L) === 3,
      "survivors must backfill k from the beam")
    // the exclusion equals the direct search with the same exclude set
    val directEx = Similarity.hnswSearchPrebuilt(vecs, "vec_id",
        "embedding", idx, q, "query_id", "embedding", k = 3, beamWidth = 6,
        m = 4, maxLevel = 1, exclude = banned.toSeq.toDF("vec_id"))
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(after.sorted === directEx.sorted)
    // idempotent re-append; set size is stable
    assert(Similarity.hnswTombstoneAt(spark, dir,
      banned.toSeq.toDF("vec_id")) === banned.size.toLong)
    // a non-hnsw store refuses
    val banded = tmp("graft-meta-hnsw-tomb-banded")
    Dedup.minhashStoreBandedWrite(docs.where(col("doc_id") < 10),
      "doc_id", "text", banded, numHashes = 8)
    val e = intercept[IllegalArgumentException] {
      Similarity.hnswTombstoneAt(spark, banded, Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains("not hnsw"))
    // REBUILD reclaims: the index rebuilds from survivors under the
    // sidecar's own construction parameters, the tombstone sidecar clears,
    // and the served search equals a fresh build over the survivor set
    assert(Similarity.hnswRebuildAt(spark, dir, vecs, "vec_id",
      "embedding") === banned.size.toLong)
    assert(Similarity.hnswTombstonesAt(spark, dir).count() === 0L)
    val survivors = vecs.where(!col("vec_id").isin(banned.toSeq: _*))
    val fresh = Similarity.hnswBuild(survivors, "vec_id", "embedding",
      knnK = 4, bits = 2, m = 4, maxLevel = 1)
    val freshSearch = Similarity.hnswSearchPrebuilt(survivors, "vec_id",
        "embedding", fresh, q, "query_id", "embedding", k = 3,
        beamWidth = 6, m = 4, maxLevel = 1)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val rebuilt = Similarity.hnswSearchPrebuiltAt(spark, dir, survivors,
        "vec_id", "embedding", q, "query_id", "embedding", k = 3,
        beamWidth = 6)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(rebuilt.sorted === freshSearch.sorted)
    // nothing tombstoned → rebuild is a no-op
    assert(Similarity.hnswRebuildAt(spark, dir, vecs, "vec_id",
      "embedding") === 0L)
  }

  test("pinned centroids: dim mismatch throws; round-trip preserves ids " +
      "and vectors") {
    val cents: Seq[(Any, Seq[Double])] =
      Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
    val dir = tmp("graft-meta-cents")
    Similarity.centroidsSave(spark, cents, dir)
    val e = intercept[IllegalArgumentException] {
      Similarity.centroidsOpen(spark, dir, expectDim = 4)
    }
    assert(e.getMessage.contains("dim: store=3 probe=4"))
    assert(Similarity.centroidsOpen(spark, dir, expectDim = 3) === cents)
    // ragged centroid sets are rejected at save time
    val r = intercept[IllegalArgumentException] {
      Similarity.centroidsSave(spark,
        Seq((0L, Seq(1.0)), (1L, Seq(1.0, 2.0))), tmp("graft-meta-rag"))
    }
    assert(r.getMessage.contains("ragged"))
  }
}
