package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{AsofJoin, BloomJoin, Curation, Decontaminate, Dedup, Dsir, Funnel, Graph, Layout, Multimodal, RangeJoin, Resample, Sampling, Similarity, SkewJoin, Sketches, TextStats, Urls}
import graft.streaming.EventTimeOps

/** Shared fixtures, scratch-dir plumbing, and generated-oracle helpers for
  * the per-family catalog objects ([[DedupCatalog]], [[SimilarityCatalog]],
  * [[SamplingCatalog]], [[TextCatalog]], [[MultimodalCatalog]],
  * [[BreadthCatalog]]) that [[ExtQueries]] composes. Split out of the former
  * ExtQueries monolith with zero behavior change; every helper keeps its
  * original doc. */
object CatalogShared {
  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Queries.table(spark, dir, name)

  /** Scratch dirs for write/read-back queries: one per-process parent
    * (UUID-suffixed, so concurrent harness runs over the same sf dir can
    * never overwrite each other's files mid-read) holding a subdir per
    * (prefix, dataset path — sanitized, not hashed: abs(hashCode) keeps
    * Int.MinValue negative and distinct paths can collide). The parent is
    * deleted by a JVM shutdown hook — the read-back frames are lazy, so
    * deletion can only happen after every consuming action is done, and
    * repeated runs leave nothing behind in the tmp dir. */
  private[graft] lazy val scratchRoot: String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_scratch_" +
      java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val children = f.listFiles()
        if (children != null) children.foreach(del)
        f.delete(): Unit
      }
      del(new java.io.File(root))
    }))
    root
  }
  private[graft] def scratchDir(prefix: String, datasetDir: String): String =
    s"$scratchRoot/${prefix}_${datasetDir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** The planted SITE-CHROME page shared by the oracle-gated
    * `curation_pipeline_extracted` row and its sf1 ScaleProof twin: a
    * link-heavy, host-flavored nav + footer around `body` — ONE builder so
    * the benchmarked hazard and the gated one cannot silently
    * de-synchronize (the nav passes no extraction keep-rule: every block
    * is link-dense; the chrome's shingles dominate a raw near-dup pass).
    * The oracle restates the same literals in SQL — edit both together. */
  private[graft] def chromePage(host: Column, body: Column): Column = concat(
    lit("<div><a href=\"/\">Home</a> <a href=\"/n\">News from the "),
    host,
    lit(" portal desk</a> " +
      "<a href=\"/w\">Weather maps and forecasts for every region</a> " +
      "<a href=\"/s\">Sports scores tables and match reports</a> " +
      "<a href=\"/f\">Finance markets currencies and exchange rates</a> " +
      "<a href=\"/t\">Travel guides hotels and flight deals</a> " +
      "<a href=\"/m\">Music film and entertainment reviews</a> " +
      "<a href=\"/e\">Education courses and exam resources</a></div><p>"),
    body,
    lit("</p><div>Copyright 2017 the "), host,
    lit(" portal network <a href=\"/terms\">Terms of service</a> " +
      "<a href=\"/privacy\">Privacy policy and cookie settings</a> " +
      "<a href=\"/contact\">Contact the editorial desk</a></div>"))

  /** Deterministic per-document URL for the two URL rows: five construction
    * branches (doc_id mod 5) over the `source` column, chosen so every
    * canonicalization rule is exercised — mixed-case scheme and host,
    * userinfo, explicit default port (dropped by canon) and non-default
    * port (kept), empty path (canon "/"), trailing-dot host, a multi-label
    * public suffix (co.uk), query string, fragment. All five hosts are
    * DISTINCT per source, so host ↔ (source, branch) is bijective — the
    * property curation_host_rank's integer host id relies on. */
  private[graft] def synthUrl: Column = {
    val s = col("source")
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 5
    when(m === 0, concat(lit("https://WWW."), s, lit(".Example.CO.UK:443/wiki/"),
        id, lit("?q=spark&lang=en#Top")))
      .when(m === 1, concat(lit("http://u:p@api."), upper(s),
        lit(".example.com:8080/a/b/c")))
      .when(m === 2, concat(lit("https://cdn."), s, lit(".example.com/assets/"),
        id, lit(".js?v=2&x=")))
      .when(m === 3, concat(lit("HTTP://"), s, lit(".example.com:80")))
      .otherwise(concat(lit("ftp://files."), s, lit(".example.org./pub/"),
        id, lit("#readme")))
  }

  /** Pinned PQ codebook for sim_topk_pq_fixed: m=16 subspaces × ksub=8
    * codewords × dsub=4 dims over the 64-dim embeddings, every value from
    * one integer formula, divided by 8 (a power of two, so each codeword
    * coordinate is an EXACT double both engines reconstruct bit-for-bit). */
  private[graft] lazy val pinnedCodebook: Seq[Seq[Seq[Double]]] =
    (0 until 16).map(sub => (0 until 8).map(code =>
      (0 until 4).map(pos =>
        (((sub * 31 + code * 7 + pos * 3) % 11) - 5) / 8.0).toSeq).toSeq)

  /** Pinned BPE merge table for text_bpe_encode (rank = Seq position) —
    * letter pairs that actually fire on the corpus, with two-stage chains
    * (t+h→th, th+e→the; a+n→an, an+d→and) so rank precedence and merged-
    * symbol re-merging are both exercised. 8 rounds is at-or-beyond
    * convergence for every chain here, so the fixed budget equals fixpoint. */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "e" -> "r", "o" -> "n", "an" -> "d", "e" -> "d")
  private[graft] val bpeRounds = 8

  /** Benford expected-share table ×10⁶, pre-rounded ONCE here and embedded
    * as the same literals on both engine sides. */
  private[graft] val benfordP: Seq[(Int, Long)] =
    (1 to 9).map(d => (d, Math.round(1e6 * Math.log10(1.0 + 1.0 / d))))

  /** One unrolled BPE merge round for the DuckDB oracle, over the
    * "(sym)(sym)…" wrapped-symbol encoding: the CASE picks the LOWEST-RANK
    * pair present (first match in table order), and `replace`'s
    * non-overlapping left-to-right scan — continuing AFTER each replacement
    * — is exactly the kernel's scan-skip merge ("(a)(a)(a)" → "(aa)(a)").
    * The wrapping makes matches exact: a letter-only pattern "(a)(b)" can
    * only match at a symbol boundary, because multi-char symbols are
    * letter-only concatenations and paren CHARS in text wrap to "(()"/"())"
    * which contain no letters. */
  private[graft] def bpeRoundSql(prev: String): String =
    bpeMerges.map { case (a, b) =>
      s"WHEN contains($prev, '($a)($b)') THEN replace($prev, '($a)($b)', '($a$b)')"
    }.mkString("CASE ", " ", s" ELSE $prev END")

  /** Unrolled DuckDB restatement of TextStats.perceptronTrain(dim=64): the
    * feature space is E9g's (unigrams + `_`-bigrams, md5 bucket), one fx
    * row per feature OCCURRENCE so Σy over joined rows equals Σ y·count.
    * Each epoch chains off the previous epoch's weight CTE. */
  private[graft] def perceptronChain(epochs: Int, trainWhere: String,
                              dim: Int): String = {
    val rounds = (1 to epochs).map { e =>
      val pw = s"w${e - 1}"
      s"""d$e AS (SELECT fx.doc_id, fx.y, sum(w.wt)::BIGINT AS dot
         |  FROM fx JOIN $pw w USING (b) GROUP BY fx.doc_id, fx.y),
         |m$e AS (SELECT doc_id FROM d$e
         |  WHERE (CASE WHEN dot >= 0 THEN 1 ELSE -1 END) <> y),
         |g$e AS (SELECT fx.b, sum(fx.y)::BIGINT AS delta
         |  FROM fx JOIN m$e USING (doc_id) GROUP BY fx.b),
         |w$e AS (SELECT $pw.b, ($pw.wt + coalesce(g$e.delta, 0))::BIGINT AS wt
         |  FROM $pw LEFT JOIN g$e USING (b))""".stripMargin
    }.mkString(",\n")
    s"""t0 AS (SELECT doc_id, y,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM corpus$trainWhere),
       |f0 AS (SELECT doc_id, y, list_concat(toks,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
       |      ELSE []::VARCHAR[] END) AS feats FROM t0),
       |fx AS (SELECT doc_id, y,
       |    ('0x' || substr(md5(f || 'qc'), 1, 8))::BIGINT % $dim AS b
       |  FROM (SELECT doc_id, y, unnest(feats) AS f FROM f0)),
       |w0 AS (SELECT unnest(range(0, $dim))::BIGINT AS b, 0::BIGINT AS wt),
       |$rounds""".stripMargin
  }

  private[graft] def perceptronTrainOracle(epochs: Int): String =
    s"""WITH corpus AS (SELECT doc_id,
       |    (CASE WHEN lang = 'en' THEN 1 ELSE -1 END)::BIGINT AS y, text
       |  FROM documents),
       |${perceptronChain(epochs, "", dim = 64)}
       |SELECT b::INT AS bucket, wt AS w FROM w$epochs ORDER BY bucket""".stripMargin

  /** The e2e corpus: a PLANTED noisy class signal — marker token matches
    * the ±1 label for 85% of docs (the 15% flip set is a keyed hash of
    * doc_id), so held-out accuracy ≈ the planted signal strength and the
    * row demonstrates GENERALIZATION, not memorization. Label (doc_id%4<2)
    * is balanced within each parity half, so the even/odd split stratifies. */
  private[graft] val perceptronE2eCorpus: String =
    s"""corpus AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 4 < 2 THEN 1 ELSE -1 END)::BIGINT AS y,
       |    text || repeat(' ' || (CASE WHEN (doc_id % 4 < 2) <>
       |        ((doc_id * 1103515245 + 12345) % 100 < 15)
       |      THEN 'qpos' ELSE 'qneg' END), 8) AS text
       |  FROM documents)""".stripMargin

  /** Train on even doc_ids, score the odd held-out half against the final
    * weight CTE. The LEFT JOIN keeps zero-feature docs (dot coalesces to 0,
    * matching the Spark fold over an empty bucket array). */
  private[graft] def perceptronE2eOracle(epochs: Int): String =
    s"""WITH $perceptronE2eCorpus,
       |${perceptronChain(epochs, " WHERE doc_id % 2 = 0", dim = 128)},
       |wavg AS (SELECT b, sum(wt)::BIGINT AS wt FROM (
       |  ${(1 to epochs).map(e => s"SELECT b, wt FROM w$e").mkString(" UNION ALL ")}
       |  ) GROUP BY b),
       |odd AS (SELECT doc_id, y,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM corpus WHERE doc_id % 2 = 1),
       |of0 AS (SELECT doc_id, y, list_concat(toks,
       |    CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
       |      ELSE []::VARCHAR[] END) AS feats FROM odd),
       |ofx AS (SELECT doc_id,
       |    ('0x' || substr(md5(f || 'qc'), 1, 8))::BIGINT % 128 AS b
       |  FROM (SELECT doc_id, unnest(feats) AS f FROM of0)),
       |dots AS (SELECT ofx.doc_id, sum(w.wt)::BIGINT AS dot
       |  FROM ofx JOIN wavg w USING (b) GROUP BY ofx.doc_id),
       |sc AS (SELECT odd.doc_id, coalesce(dots.dot, 0)::BIGINT AS score_fp, odd.y
       |  FROM odd LEFT JOIN dots USING (doc_id))
       |SELECT doc_id, score_fp,
       |  (CASE WHEN score_fp >= 0 THEN 1 ELSE -1 END)::INT AS pred,
       |  (CASE WHEN (CASE WHEN score_fp >= 0 THEN 1 ELSE -1 END) = y
       |     THEN 1 ELSE 0 END)::INT AS correct
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Shared CTE program for the hierarchical-ANN oracles: the md5-geometric
    * level law, the three nested layer node sets with their kNN graphs
    * (k=5 multi-probe candidate rule — the sim_topk_graph build restated
    * per layer), and the full beam descent (all top-layer nodes → 1 hop
    * per upper layer → 2 hops in the base). `f0_2` is the final base beam
    * both consumers rank.
    *
    * Per-layer bucket widths are the ADAPTIVE rule's values at the gate
    * fixture, spelled as literals (`Similarity.adaptiveSignBits`:
    * ⌈log₂(N/8)⌉ clamped to ≥ 4): the sf0.01 embeddings corpus has
    * N = 500 / 55 / 5 nodes at levels ≥ 0/1/2 under the md5 level law,
    * deriving 6 / 4 / 4 bits. A pure-SQL restatement cannot unroll a
    * data-dependent bit count, so the oracle pins the derivation's result
    * for the driver's fixture — if the fixture changes, these literals
    * change with it. */
  private[graft] lazy val hnswOracleCtes: String = {
    val h = "('0x' || substr(md5(vec_id::VARCHAR || 'hnsw'), 1, 15))::BIGINT"
    def layer(nl: String, gl: String, whereLvl: String, bits: Int): String =
      s"""$nl AS (SELECT vec_id, v, nm,
         |  (${Sql.signBucketNOver(bits, "v")})::BIGINT AS bucket FROM lv$whereLvl),
         |pr_$nl AS (SELECT vec_id, v, nm,
         |  unnest(list_concat([bucket],
         |    list_transform(range(0, $bits), i -> xor(bucket, 1::BIGINT << i)))) AS pbucket
         |  FROM $nl),
         |gc_$nl AS (SELECT a.vec_id AS id, b.vec_id AS nbr_id,
         |  ${Sql.dot("a.v", "b.v")} / (a.nm * b.nm) AS score
         |  FROM pr_$nl a JOIN $nl b ON a.pbucket = b.bucket AND a.vec_id <> b.vec_id),
         |$gl AS (SELECT id, nbr_id FROM (
         |  SELECT id, nbr_id, row_number() OVER (
         |    PARTITION BY id ORDER BY score DESC, nbr_id ASC) AS rk FROM gc_$nl)
         |  WHERE rk <= 5)""".stripMargin
    Seq(
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(${Sql.dot("v", "v")}) AS nm FROM e),
         |lv AS (SELECT vec_id, v, nm,
         |  (CASE WHEN $h % 64 = 0 THEN 2 WHEN $h % 8 = 0 THEN 1 ELSE 0 END) AS lvl
         |  FROM n),
         |q AS (SELECT vec_id AS query_id, v AS qv, nm AS qnm FROM n WHERE vec_id < 5)""".stripMargin,
      layer("n2", "g2", " WHERE lvl >= 2", 4),
      layer("n1", "g1", " WHERE lvl >= 1", 4),
      layer("n0", "g0", "", 6),
      "e2 AS (SELECT q.query_id, c.vec_id AS id FROM q CROSS JOIN n2 c)",
      beamRankCte("f2_0", "e2", "n2", 16),
      beamExpandCte("c2_1", "f2_0", "g2"),
      beamRankCte("f2_1", "c2_1", "n2", 16),
      beamRankCte("f1_0", "f2_1", "n1", 16),
      beamExpandCte("c1_1", "f1_0", "g1"),
      beamRankCte("f1_1", "c1_1", "n1", 16),
      beamRankCte("f0_0", "f1_1", "n0", 16),
      beamExpandCte("c0_1", "f0_0", "g0"),
      beamRankCte("f0_1", "c0_1", "n0", 16),
      beamExpandCte("c0_2", "f0_1", "g0"),
      beamRankCte("f0_2", "c0_2", "n0", 16)
    ).mkString(",\n")
  }

  /** One beam re-rank: keep the top-`width` of candidate set `cands`
    * (query_id, id) scored against layer node set `nl`, self excluded —
    * the beamOf step of Similarity's beam loop. */
  private[graft] def beamRankCte(out: String, cands: String, nl: String,
                          width: Int): String =
    s"""$out AS (SELECT query_id, id FROM (
       |  SELECT cd.query_id, cd.id, row_number() OVER (
       |    PARTITION BY cd.query_id
       |    ORDER BY ${Sql.dot("q.qv", "c.v")} / (q.qnm * c.nm) DESC, cd.id) AS rk
       |  FROM $cands cd JOIN q ON q.query_id = cd.query_id
       |  JOIN $nl c ON c.vec_id = cd.id
       |  WHERE cd.id <> cd.query_id) WHERE rk <= $width)""".stripMargin

  /** One hop expansion: beam ∪ beam-neighbors along `g`, distinct. */
  private[graft] def beamExpandCte(out: String, beam: String, g: String): String =
    s"""$out AS (SELECT DISTINCT query_id, id FROM (
       |  SELECT query_id, id FROM $beam
       |  UNION ALL
       |  SELECT b.query_id, g.nbr_id AS id FROM $beam b JOIN $g g ON b.id = g.id))""".stripMargin

  /** Unrolled DuckDB restatement of the ONE-VS-ALL trained language ID
    * (TextStats.perceptronTrainOvA + argmax inference): three independent
    * per-class epoch chains over one shared hashed-feature CTE (`fxe`),
    * averaged snapshots per class, held-out odd-half scoring, first-wins
    * argmax — every per-doc score, the prediction, and correctness on the
    * hash. */
  private[graft] def langidTrainedOracle(epochs: Int, dim: Int): String = {
    def chain(k: Int): String = {
      val rounds = (1 to epochs).map { e =>
        val pw = s"w${k}_${e - 1}"
        s"""d${k}_$e AS (SELECT fx.doc_id, y.y, sum(w.wt)::BIGINT AS dot
           |  FROM fxe fx JOIN y$k y USING (doc_id) JOIN $pw w USING (b)
           |  GROUP BY fx.doc_id, y.y),
           |m${k}_$e AS (SELECT doc_id FROM d${k}_$e
           |  WHERE (CASE WHEN dot >= 0 THEN 1 ELSE -1 END) <> y),
           |g${k}_$e AS (SELECT fx.b, sum(y.y)::BIGINT AS delta
           |  FROM fxe fx JOIN y$k y USING (doc_id) JOIN m${k}_$e USING (doc_id)
           |  GROUP BY fx.b),
           |w${k}_$e AS (SELECT p.b, (p.wt + coalesce(g.delta, 0))::BIGINT AS wt
           |  FROM $pw p LEFT JOIN g${k}_$e g USING (b))""".stripMargin
      }.mkString(",\n")
      s"""y$k AS (SELECT doc_id, (CASE WHEN c = $k THEN 1 ELSE -1 END)::BIGINT AS y
         |  FROM corpus WHERE doc_id % 2 = 0),
         |w${k}_0 AS (SELECT unnest(range(0, $dim))::BIGINT AS b, 0::BIGINT AS wt),
         |$rounds,
         |wa$k AS (SELECT b, sum(wt)::BIGINT AS wt FROM (
         |  ${(1 to epochs).map(e => s"SELECT b, wt FROM w${k}_$e").mkString(" UNION ALL ")}
         |  ) GROUP BY b),
         |dt$k AS (SELECT ofx.doc_id, sum(w.wt)::BIGINT AS dot
         |  FROM ofx JOIN wa$k w USING (b) GROUP BY ofx.doc_id)""".stripMargin
    }
    val feats =
      """list_concat(toks, CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
        |      ELSE []::VARCHAR[] END)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, doc_id % 3 AS c,
       |    text || repeat(' ' || (CASE ((doc_id % 3 +
       |        CASE WHEN (doc_id * 1103515245 + 12345) % 100 < 15 THEN 1 ELSE 0 END) % 3)
       |      WHEN 0 THEN 'lza' WHEN 1 THEN 'lzb' ELSE 'lzc' END), 8) AS text
       |  FROM documents),
       |t0e AS (SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM corpus WHERE doc_id % 2 = 0),
       |f0e AS (SELECT doc_id, $feats AS feats FROM t0e),
       |fxe AS (SELECT doc_id,
       |    ('0x' || substr(md5(f || 'qc'), 1, 8))::BIGINT % $dim AS b
       |  FROM (SELECT doc_id, unnest(feats) AS f FROM f0e)),
       |odd AS (SELECT doc_id, c,
       |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
       |  FROM corpus WHERE doc_id % 2 = 1),
       |of0 AS (SELECT doc_id, $feats AS feats FROM odd),
       |ofx AS (SELECT doc_id,
       |    ('0x' || substr(md5(f || 'qc'), 1, 8))::BIGINT % $dim AS b
       |  FROM (SELECT doc_id, unnest(feats) AS f FROM of0)),
       |${(0 until 3).map(chain).mkString(",\n")},
       |sc AS (SELECT odd.doc_id, odd.c,
       |    coalesce(dt0.dot, 0)::BIGINT AS s0, coalesce(dt1.dot, 0)::BIGINT AS s1,
       |    coalesce(dt2.dot, 0)::BIGINT AS s2
       |  FROM odd LEFT JOIN dt0 USING (doc_id) LEFT JOIN dt1 USING (doc_id)
       |    LEFT JOIN dt2 USING (doc_id))
       |SELECT doc_id, s0, s1, s2,
       |  (CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
       |    WHEN s1 >= s2 THEN 1 ELSE 2 END)::BIGINT AS pred,
       |  (CASE WHEN (CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
       |    WHEN s1 >= s2 THEN 1 ELSE 2 END) = c THEN 1 ELSE 0 END)::INT AS correct
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Unrolled DuckDB restatement of TextStats.bpeTrainMerges: per round r,
    * p_r = weighted adjacent-pair counts over the wrapped-symbol state,
    * b_r = the argmax under the (count DESC, a, b) tie-break, s_r = the
    * chosen merge applied via `replace`'s non-overlapping left-to-right
    * scan (= the fold's scan-skip). The state chain s0→s8 makes every
    * round's selection depend on every earlier round's application. */
  /** The alphanumeric-only corpus filter shared by the BPE train rows: it
    * guarantees every symbol — single chars AND learned concatenations —
    * is paren-free, which is what makes the wrapped-symbol "(a)(b)" string
    * patterns provably exact even for DYNAMIC (learned) pairs. */
  // \z-anchored (not $): Java regex '$' matches before a trailing newline
  // while RE2's does not — \z means absolute end-of-text in BOTH engines,
  // so a future newline-bearing fixture can't silently diverge the gates.
  private[graft] val bpeCorpusRe = "^[a-z0-9 ]*\\z"

  /** The training CTE chain (wf → s0 → p/b/s per round): b$r holds round
    * r's learned (a, b, c). Callers append their own final SELECT. */
  private[graft] def bpeTrainChain(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT pr.a AS a, pr.b AS b, sum(cnt)::BIGINT AS c FROM (
         |  SELECT unnest(list_transform(range(1, len(tl)),
         |    i -> {'a': tl[i], 'b': tl[i+1]})) AS pr, cnt
         |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), ')(') AS tl,
         |        cnt FROM $prev)) GROUP BY pr.a, pr.b),
         |b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |s$r AS (SELECT replace(s, '(' || a || ')(' || b || ')',
         |  '(' || a || b || ')') AS s, cnt FROM $prev CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
       |    FROM documents WHERE regexp_matches(text, '$bpeCorpusRe')) GROUP BY w),
       |s0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS s, cnt FROM wf),
       |$rounds""".stripMargin
  }

  private[graft] def bpeTrainOracle(nMerges: Int): String = {
    val out = (1 to nMerges)
      .map(r => s"SELECT $r AS rank, a, b, c AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainChain(nMerges)}
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** Train (8 merges) then ENCODE docs < 40 with the LEARNED table: each
    * encode round's lowest-rank-present CASE cross-joins the single-row
    * b1..b8 CTEs, so the patterns are dynamic — the round-10 tokenizer
    * loop closed inside one restatable query. 12 rounds ≥ fixpoint for any
    * table because no corpus word exceeds 13 chars (a word of length L
    * converges in ≤ L−1 rounds). */
  /** Shared train-chain + learned-pair encode CTEs ending at `toks`
    * (doc_id, word_ord, token-list). */
  private[graft] def bpeEncodeChain(nMerges: Int, encRounds: Int,
                             docWhere: String): String = {
    val ms = (1 to nMerges).map(r => s"b$r m$r").mkString(", ")
    def dynCase(prev: String): String =
      (1 to nMerges).map { r =>
        val pat = s"'(' || m$r.a || ')(' || m$r.b || ')'"
        val rep = s"'(' || m$r.a || m$r.b || ')'"
        s"WHEN contains($prev, $pat) THEN replace($prev, $pat, $rep)"
      }.mkString("CASE ", " ", s" ELSE $prev END")
    val encChain = (1 to encRounds).map { r =>
      val from = if (r == 1) "e0" else s"e${r - 1}"
      s"e$r AS (SELECT doc_id, word_ord, ${dynCase("s")} AS s FROM $from, $ms)"
    }.mkString(",\n")
    s"""${bpeTrainChain(nMerges)},
       |enc AS (SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS wl
       |  FROM documents WHERE $docWhere AND regexp_matches(text, '$bpeCorpusRe')),
       |ew AS (SELECT doc_id, unnest(range(1, len(wl)+1)) AS word_ord,
       |  unnest(wl) AS w FROM enc),
       |e0 AS (SELECT doc_id, word_ord,
       |  regexp_replace(w, '(.)', '(\\1)', 'g') AS s FROM ew),
       |$encChain,
       |toks AS (SELECT doc_id, word_ord,
       |  string_split(substr(s, 2, length(s) - 2), ')(') AS tl FROM e$encRounds)""".stripMargin
  }

  private[graft] def bpeE2eOracle(nMerges: Int, encRounds: Int): String =
    s"""WITH ${bpeEncodeChain(nMerges, encRounds, "doc_id < 40")},
       |ex AS (SELECT doc_id, word_ord, unnest(range(1, len(tl)+1)) AS tok_ord,
       |  unnest(tl) AS token FROM toks)
       |SELECT doc_id, (row_number() OVER (PARTITION BY doc_id
       |    ORDER BY word_ord, tok_ord) - 1)::INT AS pos, token
       |FROM ex ORDER BY doc_id, pos""".stripMargin

  /** chars-per-token ratio under the learned table: char counts join the
    * per-doc token counts (empty-token docs keep ratio 0). */
  private[graft] def bpeRatioOracle(nMerges: Int, encRounds: Int): String =
    s"""WITH ${bpeEncodeChain(nMerges, encRounds, "doc_id < 200")},
       |tc AS (SELECT doc_id, sum(len(tl))::INT AS n_tokens FROM toks GROUP BY doc_id),
       |cc AS (SELECT doc_id,
       |    length(replace(lower(text), ' ', ''))::INT AS n_chars
       |  FROM documents WHERE doc_id < 200 AND regexp_matches(text, '$bpeCorpusRe'))
       |SELECT cc.doc_id, n_chars, coalesce(n_tokens, 0)::INT AS n_tokens,
       |  (CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
       |   ELSE (n_chars * 1000) // n_tokens END)::BIGINT AS ratio_fp
       |FROM cc LEFT JOIN tc USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Header checksum: sum of the first 16 character codes (= payload bytes
    * for ASCII payloads). NULL for empty text — matching DuckDB's
    * list_sum([]) = NULL (and dodging Spark's descending sequence(1,0)). */
  private[graft] def headerSum(c: Column): Column =
    when(length(c) === 0, lit(null).cast("long"))
      .otherwise(aggregate(sequence(lit(1), least(length(c), lit(16))), lit(0L),
        (a, i) => a + ascii(substr(c, i, lit(1)))))

  private[graft] val langClasses: Seq[(String, Seq[String])] = Seq(
    "tabular" -> Seq("table", "row", "column", "scan"),
    "streaming" -> Seq("stream", "batch", "window", "state"),
    "relational" -> Seq("join", "merge", "hash", "shuffle"))

  private[graft] val stopwords = Seq("data", "table", "row", "value")

  /** Mixed-script fixture for the [[graft.ext.Tokenizer.ScriptAware]] rows:
    * per-doc text built from integer formulas over three alphabet strings
    * (Han 0x4E00+, Katakana 0x30A1+, Thai 0x0E01+), with latin words glued
    * DIRECTLY onto the script runs — the boundary case whitespace
    * tokenization cannot see. Both engines restate the construction: the
    * Spark side embeds the driver-computed alphabet literals and indexes
    * them with `substr` (codepoint-based in both engines); the oracle
    * builds the same alphabets with `chr()` arithmetic so the SQL stays
    * pure ASCII. */
  private[graft] object CjkFixture {
    val Han: String = (0 until 64).map(k => (0x4E00 + k).toChar).mkString
    val Kana: String = (0 until 32).map(k => (0x30A1 + k).toChar).mkString
    val Thai: String = (0 until 32).map(k => (0x0E01 + k).toChar).mkString

    private def run(alpha: String, i: Column, len: Column, mul: Int,
                    step: Int): Column =
      array_join(transform(sequence(lit(0), len.cast("int") - 1),
        j => lit(alpha).substr(
          ((i * mul + j * step) % alpha.length).cast("int") + 1, lit(1))), "")

    /** text(i) = "alpha beta"<han run>" gamma "<kana run><thai run>" delta "<suffix> */
    def text(i: Column, suffix: String): Column = concat(
      lit("alpha beta"),
      run(Han, i, lit(3) + i % 4, mul = 7, step = 5),
      lit(" gamma "),
      run(Kana, i, lit(2) + i % 3, mul = 5, step = 3),
      run(Thai, i, lit(2), mul = 3, step = 7),
      lit(" delta " + suffix))

    /** DuckDB restatement of [[text]] over an integer expression `i` —
      * splice after the `cjkAlphabetsCte`. */
    def textSql(i: String, suffix: String): String = {
      def run(alphaExpr: String, alphaLen: Int, lenExpr: String, mul: Int,
              step: Int): String =
        s"array_to_string(list_transform(range(0, ($lenExpr)::BIGINT), " +
          s"j -> substr($alphaExpr, (($i * $mul + j * $step) % $alphaLen)::INT + 1, 1)), '')"
      s"'alpha beta' || ${run("a.han", 64, s"3 + $i % 4", 7, 5)} || " +
        s"' gamma ' || ${run("a.kana", 32, s"2 + $i % 3", 5, 3)} || " +
        s"${run("a.thai", 32, "2", 3, 7)} || ' delta $suffix'"
    }

    /** A LOW-TOKEN mixed-script doc (one latin word + a 2-4 ideograph run)
      * — under any sane script-aware minTokens gate, the planted gate
      * victim of the cjk curation row. */
    def shortText(i: Column): Column = concat(
      lit("alpha "), run(Han, i, lit(2) + i % 3, mul = 11, step = 3))

    def shortTextSql(i: String): String =
      s"'alpha ' || array_to_string(list_transform(range(0, (2 + $i % 3)::BIGINT), " +
        s"j -> substr(a.han, (($i * 11 + j * 3) % 64)::INT + 1, 1)), '')"

    /** The alphabets CTE (`a(han, kana, thai)`) every cjk oracle opens with. */
    val alphabetsCte: String =
      """a AS (SELECT
        |  (SELECT string_agg(chr((19968 + x)::INT), '' ORDER BY x) FROM range(0, 64) t(x)) AS han,
        |  (SELECT string_agg(chr((12449 + x)::INT), '' ORDER BY x) FROM range(0, 32) t(x)) AS kana,
        |  (SELECT string_agg(chr((3585 + x)::INT), '' ORDER BY x) FROM range(0, 32) t(x)) AS thai)""".stripMargin
  }

  /** A small PUBLIC Thai lexicon (common everyday vocabulary) for the
    * dictionary-segmenter fixture — sixteen words, incl. two
    * compound/constituent pairs (ประเทศไทย ⊃ ประเทศ/ไทย, โรงเรียน ⊃ เรียน)
    * so the gated row proves maximal munch prefers the longer entry. The
    * law ([[graft.ext.Tokenizer.Dictionary]]) is lexicon-agnostic: a
    * production deployment ships a full public wordlist the same way. */
  private[graft] object ThaiLexicon {
    val words: Seq[String] = Seq(
      "ประเทศไทย", // Thailand
      "ประเทศ",                   // country
      "ไทย",                                     // Thai
      "โรงเรียน",       // school
      "เรียน",                         // to study
      "สวัสดี",                   // hello
      "ภาษา",                               // language
      "หนังสือ",             // book
      "เมือง",                         // city
      "บ้าน",                               // house
      "ข้าว",                               // rice
      "น้ำ",                                     // water
      "กิน",                                     // to eat
      "มาก",                                     // many/very
      "รัก",                                     // to love
      "คน")                                           // person

    /** One word as a DuckDB chr()-concatenation — the SQL stays ASCII. */
    def wordSql(w: String): String =
      w.map(c => s"chr(${c.toInt})").mkString(" || ")

    /** The whole lexicon as a DuckDB list literal (fixture order). */
    val listSql: String =
      words.map(w => s"(${wordSql(w)})").mkString("[", ", ", "]")
  }

  private[graft] object Sql {
    // MinHash-LSH near-dup pairs → recursive-reachability connected
    // components (shared by the union-find row and its large/small-star
    // twin: two independent algorithms, one oracle answer)
    lazy val dedupClustersCc: String =
      s"""WITH RECURSIVE
         |w AS (SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
         |sh AS (SELECT doc_id, $wordShingles3 AS s FROM w),
         |sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
         |sig AS (SELECT doc_id, $minhashSigs AS sigs FROM sh2),
         |bands AS (SELECT doc_id, unnest(range(1, 5)) AS band,
         |  unnest($minhashBands) AS v FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v
         |  AND a.doc_id < b.doc_id),
         |pairs AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id,
         |    len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand JOIN sh2 x ON x.doc_id = cand.a_id JOIN sh2 y ON y.doc_id = cand.b_id)
         |  WHERE jaccard >= 0.5),
         |edges AS (SELECT a_id AS s, b_id AS t FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(s, t) AS (SELECT s, t FROM edges
         |  UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
         |SELECT s AS doc_id, least(s, min(t))::BIGINT AS rep
         |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

    // non-overlapping 16-token tile dedup (shared by the text-keyed
    // dedup_spans row and its hash-keyed shuffle-lean twin, which is
    // result-identical absent a 64-bit span-hash collision)
    lazy val dedupSpansTiled: String =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |st AS (SELECT doc_id, words,
        |  unnest(generate_series(0, len(words) - 1, 16)) AS s FROM w),
        |c AS (SELECT doc_id, (s // 16)::INT AS chunk_no,
        |    array_to_string(words[s + 1 : s + 16], ' ') AS chunk_text FROM st),
        |k AS (SELECT doc_id, chunk_no, chunk_text FROM c
        |  QUALIFY row_number() OVER (PARTITION BY chunk_text
        |    ORDER BY doc_id, chunk_no) = 1)
        |SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_no) AS clean_text,
        |  count(*)::BIGINT AS n_spans
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

    // synthUrl's five construction branches verbatim (doc_id concatenated
    // via an explicit ::VARCHAR — same digits as Spark's cast("string")).
    // NOTE: no line here may START with '||' — this fragment is spliced
    // into oracle strings whose OUTER .stripMargin would eat the first '|'.
    val urlCase: String =
      """CASE m
        |  WHEN 0 THEN 'https://WWW.' || s || '.Example.CO.UK:443/wiki/' ||
        |    doc_id::VARCHAR || '?q=spark&lang=en#Top'
        |  WHEN 1 THEN 'http://u:p@api.' || upper(s) || '.example.com:8080/a/b/c'
        |  WHEN 2 THEN 'https://cdn.' || s || '.example.com/assets/' ||
        |    doc_id::VARCHAR || '.js?v=2&x='
        |  WHEN 3 THEN 'HTTP://' || s || '.example.com:80'
        |  ELSE 'ftp://files.' || s || '.example.org./pub/' || doc_id::VARCHAR || '#readme'
        |  END""".stripMargin

    // the EXPECTED canonical host per branch: lowercased, userinfo and port
    // stripped, trailing root dot removed (s itself is already lowercase)
    val urlHostCase: String =
      """CASE m
        |  WHEN 0 THEN 'www.' || s || '.example.co.uk'
        |  WHEN 1 THEN 'api.' || s || '.example.com'
        |  WHEN 2 THEN 'cdn.' || s || '.example.com'
        |  WHEN 3 THEN s || '.example.com'
        |  ELSE 'files.' || s || '.example.org' END""".stripMargin

    // the EXPECTED canonical URL per branch: lowercased scheme+host,
    // default ports dropped, empty path → '/', fragment dropped (same
    // no-line-starts-with-'||' rule as urlCase)
    val urlCanonCase: String =
      """CASE m
        |  WHEN 0 THEN 'https://www.' || s || '.example.co.uk/wiki/' ||
        |    doc_id::VARCHAR || '?q=spark&lang=en'
        |  WHEN 1 THEN 'http://api.' || s || '.example.com:8080/a/b/c'
        |  WHEN 2 THEN 'https://cdn.' || s || '.example.com/assets/' ||
        |    doc_id::VARCHAR || '.js?v=2&x='
        |  WHEN 3 THEN 'http://' || s || '.example.com/'
        |  ELSE 'ftp://files.' || s || '.example.org/pub/' || doc_id::VARCHAR
        |  END""".stripMargin

    // Shared CTE chain for the pinned-codebook PQ oracles (mirrors
    // Similarity.pqScore over ExtQueries.pinnedCodebook): codebook from the
    // integer formula, encode = strict-< argmin of left-fold sq dists
    // (= ORDER BY d, code pick-first under exact double equality),
    // reconstruction norms and query dot-tables with every fold in index
    // order. Ends with codes/recon/q/qtab; callers append candidate
    // generation, the ADC sum (list(... ORDER BY sub) keeps subspace
    // order), and ranking.
    lazy val pqPinnedCtes: String =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cb AS (SELECT s.s AS sub, c.c AS code,
         |  list_transform(range(0, 4), p ->
         |    ((((s.s * 31 + c.c * 7 + p * 3) % 11) - 5)::DOUBLE / 8.0)) AS cw
         |  FROM (SELECT unnest(range(0, 16)) AS s) s,
         |       (SELECT unnest(range(0, 8)) AS c) c),
         |cbn AS (SELECT sub, code, cw,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(cw, x -> x * x)),
         |    (x, y) -> x + y) AS nsq FROM cb),
         |dist AS (SELECT e.vec_id, cb.sub, cb.code,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 5), i ->
         |    (e.v[cb.sub * 4 + i] - cb.cw[i]) * (e.v[cb.sub * 4 + i] - cb.cw[i]))),
         |    (x, y) -> x + y) AS d
         |  FROM e, cb),
         |codes AS (SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY d, code) AS rn FROM dist)
         |  WHERE rn = 1),
         |recon AS (SELECT c.vec_id,
         |  list_reduce(list_prepend(0.0::DOUBLE, list(n.nsq ORDER BY c.sub)),
         |    (x, y) -> x + y) AS rsq
         |  FROM codes c JOIN cbn n ON n.sub = c.sub AND n.code = c.code
         |  GROUP BY c.vec_id),
         |q AS (SELECT vec_id AS query_id, v,
         |  sqrt(${dot("v", "v")}) AS qn FROM e WHERE vec_id < 5),
         |qtab AS (SELECT q.query_id, cb.sub, cb.code,
         |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 5), i ->
         |    q.v[cb.sub * 4 + i] * cb.cw[i])), (x, y) -> x + y) AS qd
         |  FROM q, cb)""".stripMargin

    // Unrolled integer fixed-point PageRank (mirrors Graph.pageRankExact at
    // the default 85/100 damping, 10^6 scale): requires a prior CTE
    // e(src, dst) of DISTINCT edges; ends in CTE r<iters>(node, rank).
    // `//` is DuckDB's truncating integer division = Spark's `div`.
    def pagerankUnrolled(iters: Int): String = {
      val iterCtes = (1 to iters).map { i =>
        s"""s$i AS (SELECT e.dst AS node, sum(r.rank // d.outdeg) AS in_sum
           |  FROM e JOIN deg d ON d.src = e.src
           |  JOIN r${i - 1} r ON r.node = e.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |  (150000 + (85 * COALESCE(s.in_sum, 0)) // 100)::BIGINT AS rank
           |  FROM nodes n LEFT JOIN s$i s ON s.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes),
         |$iterCtes""".stripMargin
    }

    // Morton/Z-order bit interleave, unrolled to shift/and/or terms —
    // mirrors Layout.zorderKey exactly (bit i of column j → bit i·d + j,
    // inputs clamped to [0, 2^bits) after a BIGINT cast)
    def zorder(colsExpr: Seq[String], bits: Int): String = {
      val d = colsExpr.size
      colsExpr.zipWithIndex.flatMap { case (c, j) =>
        val cl = s"least(greatest($c::BIGINT, 0), ${(1L << bits) - 1})"
        (0 until bits).map(i => s"((($cl >> $i) & 1) << ${i * d + j})")
      }.mkString(" | ")
    }

    // DSIR hashed-bigram fixed-point weight table (mirrors
    // Dsir.importanceWeightsFixed at n=2, scale=2^20, denominator-only
    // smoothing; target = src0 docs, raw = all documents). Ends in CTE
    // `wt(bucket, pf, qf)`.
    def dsirWeights(nBuckets: Int): String =
      s"""tw AS (SELECT list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS w
         |  FROM documents WHERE source = 'src0'),
         |rw AS (SELECT list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS w
         |  FROM documents),
         |tg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
         |  FROM tw WHERE len(w) >= 2),
         |rg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
         |  FROM rw WHERE len(w) >= 2),
         |tc AS (SELECT ('0x' || substr(md5(gram), 1, 8))::BIGINT % $nBuckets AS bucket,
         |    count(*)::BIGINT AS cnt FROM tg GROUP BY 1),
         |rc AS (SELECT ('0x' || substr(md5(gram), 1, 8))::BIGINT % $nBuckets AS bucket,
         |    count(*)::BIGINT AS cnt FROM rg GROUP BY 1),
         |sup AS (SELECT unnest(range(0, $nBuckets))::BIGINT AS bucket),
         |wt AS (SELECT s.bucket,
         |    ((coalesce(tc.cnt, 0) * 1048576)
         |      // ((SELECT coalesce(sum(cnt), 0) + $nBuckets FROM tc)::BIGINT))::BIGINT AS pf,
         |    ((coalesce(rc.cnt, 0) * 1048576)
         |      // ((SELECT coalesce(sum(cnt), 0) + $nBuckets FROM rc)::BIGINT))::BIGINT AS qf
         |  FROM sup s LEFT JOIN tc ON s.bucket = tc.bucket
         |    LEFT JOIN rc ON s.bucket = rc.bucket)""".stripMargin

    // per-document DSIR scores on top of dsirWeights — ends in CTE
    // `dsir_scores(doc_id, score_fixed, n_grams)`, gram-less docs at 0
    def dsirScores(nBuckets: Int): String =
      s"""${dsirWeights(nBuckets)},
         |docw AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS w
         |  FROM documents),
         |docg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
         |  FROM docw WHERE len(w) >= 2),
         |occ AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 8))::BIGINT % $nBuckets AS bucket
         |  FROM docg),
         |osum AS (SELECT doc_id, sum(wt.pf - wt.qf)::BIGINT AS score_fixed,
         |    count(*)::BIGINT AS n_grams
         |  FROM occ JOIN wt USING (bucket) GROUP BY doc_id),
         |dsir_scores AS (SELECT d.doc_id,
         |    coalesce(o.score_fixed, 0)::BIGINT AS score_fixed,
         |    coalesce(o.n_grams, 0)::BIGINT AS n_grams
         |  FROM documents d LEFT JOIN osum o USING (doc_id))""".stripMargin

    // integer dot product of two BIGINT[] code arrays (exact — order-free)
    def intDot(a: String, b: String): String =
      s"list_reduce(list_concat([0::BIGINT], list_transform(range(1, 65), i -> $a[i] * $b[i])), (x, y) -> x + y)"

    // strict-left-fold dot product of two DOUBLE[] expressions over the
    // first n dims (mirrors Similarity.dot's fold order exactly)
    def dotN(a: String, b: String, n: Int): String =
      s"list_reduce(list_concat([0.0::DOUBLE], list_transform(range(1, ${n + 1}), i -> $a[i] * $b[i])), (x, y) -> x + y)"

    // strict-left-fold dot product of two DOUBLE[] expressions, 64 dims
    def dot(a: String, b: String): String = dotN(a, b, 64)

    // strict-left-fold squared-L2 distance of two DOUBLE[] expressions,
    // 64 dims (mirrors Similarity.sqDist's zip_with/aggregate fold order)
    def sqDist(a: String, b: String): String =
      s"list_reduce(list_concat([0.0::DOUBLE], list_transform(range(1, 65), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (x, y) -> x + y)"

    // int8 quantization of embeddings into BIGINT[] codes — the
    // sim_topk_int8-proven restatement of Similarity.quantizeInt8. Ends in
    // CTE qt(vec_id, cq).
    lazy val int8Codes: String =
      """qe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qm AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS ma FROM qe),
        |qt AS (SELECT vec_id, CASE WHEN ma = 0
        |    THEN list_transform(v, x -> 0::BIGINT)
        |    ELSE list_transform(v, x -> floor(x * 127.0 / ma + 0.5)::BIGINT)
        |  END AS cq FROM qm)""".stripMargin

    // Unrolled portable integer k-means (mirrors
    // Similarity.kmeansAssignPortable at k cells / `updates` Lloyd rounds):
    // exact-integer cosine assignment over the int8 codes (score DESC,
    // cent_id ASC tie-break, zero-norm coalesced to -2 — DuckDB's x/0.0 is
    // NULL like Spark's try_divide), truncating integer mean update (`//`
    // truncates toward zero = Scala Long division), empty cells keep their
    // previous centroid via the LEFT JOIN coalesce. Requires a prior CTE
    // qt(vec_id, cq BIGINT[]) — see [[int8Codes]] — and ends in CTE
    // a<updates+1>(vec_id, cell, score).
    def kmeansUnrolled(k: Int, updates: Int): String = {
      def assign(i: Int, cFrom: String) =
        s"""sc$i AS (SELECT q.vec_id, c.cent_id,
           |  coalesce((${intDot("q.cq", "c.cq")})::DOUBLE /
           |    (sqrt((${intDot("q.cq", "q.cq")})::DOUBLE) *
           |     sqrt((${intDot("c.cq", "c.cq")})::DOUBLE)), -2.0) AS score
           |  FROM qt q CROSS JOIN $cFrom c),
           |a$i AS (SELECT vec_id, cent_id AS cell, score FROM sc$i
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |    ORDER BY score DESC, cent_id) = 1)""".stripMargin
      def update(i: Int) =
        s"""s$i AS (SELECT a.cell, p.pos, sum(q.cq[p.pos]) AS s, count(*) AS n
           |  FROM a$i a JOIN qt q ON q.vec_id = a.vec_id
           |  CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) p
           |  GROUP BY a.cell, p.pos),
           |m$i AS (SELECT cell, list(s // n ORDER BY pos) AS cq
           |  FROM s$i GROUP BY cell),
           |c$i AS (SELECT p.cent_id, coalesce(m.cq, p.cq) AS cq
           |  FROM c${i - 1} p LEFT JOIN m$i m ON m.cell = p.cent_id)""".stripMargin
      val rounds = (1 to updates)
        .map(i => assign(i, s"c${i - 1}") + ",\n" + update(i)).mkString(",\n")
      s"""c0 AS (SELECT vec_id AS cent_id, cq FROM qt ORDER BY vec_id LIMIT $k),
         |$rounds,
         |${assign(updates + 1, s"c$updates")}""".stripMargin
    }

    val minhashSigs: String =
      "[" + (1 to 8).map(j =>
        s"list_min(list_transform(s, x -> md5('$j:' || x)))").mkString(", ") + "]"

    // 2-row bands over the 8 signature values (mirrors Dedup bandRows=2)
    val minhashBands: String =
      "[" + (0 until 4).map(b => s"sigs[${2 * b + 1}] || sigs[${2 * b + 2}]")
        .mkString(", ") + "]"

    val simhashBits: String = simhashBitsN(16)

    def simhashBitsN(n: Int): String =
      (0 until n).map(i =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $i) & 1) * 2 - 1)) > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")

    val signBucket6: String = signBucket6At(0)

    // sign bucket over dims offset+1 .. offset+6 (rotated second bucketing)
    def signBucket6At(offset: Int): String =
      (0 until 6).map(i =>
        s"(CASE WHEN embedding[${offset + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

    // sign bucket of arbitrary width over a named array column (the
    // per-layer adaptive widths of the hierarchical-ANN oracles)
    def signBucketNOver(bits: Int, arr: String): String =
      (0 until bits).map(i =>
        s"(CASE WHEN $arr[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

    def markerCount(markers: Seq[String]): String = markerCountOver(markers, "toks")

    def markerCountOver(markers: Seq[String], listExpr: String): String =
      s"len(list_filter($listExpr, tk -> list_contains([${markers.map("'" + _ + "'").mkString(",")}], tk)))"

    // word n-gram shingles (range end is exclusive: 1..len-n+1 positions)
    val wordShingles3: String = wordShinglesN(3)

    def wordShinglesN(n: Int): String =
      s"""CASE WHEN len(words) >= $n
         |  THEN list_distinct(list_transform(range(1, len(words) - ${n - 2}),
         |       i -> array_to_string(words[i:i+${n - 1}], ' ')))
         |  ELSE []::VARCHAR[] END""".stripMargin

    // portable unit hash: first 8 md5 hex digits over (key || salt), as a
    // double in [0,1) — mirrors graft.ext.Sampling.unitHash exactly
    def unitHash(keyExpr: String, salt: String = ""): String =
      s"(('0x' || substr(md5($keyExpr || '$salt'), 1, 8))::BIGINT / 4294967296.0)"

    val charShingles4: String =
      """CASE WHEN length(lt) >= 4
        |  THEN list_distinct(list_transform(range(1, length(lt) - 2),
        |       i -> substr(lt, i, 4)))
        |  ELSE []::VARCHAR[] END""".stripMargin

    val rollHash: String =
      """list_reduce(list_concat([0::BIGINT],
        |  list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1)))),
        |  (acc, ch) -> (acc * 31 + ch) % 1000000007)""".stripMargin

    // The perceptual-hash corpus (two photos per doc; twin = noise-1
    // checkerboard re-encode at doc_id % 3 == 0) regenerated pixel by
    // pixel, grayscaled, box-downscaled to the 9×8 grid by exact integer
    // means (r = y div 2 at h = 16; c = (9x+8) div 32 inverts the
    // (c·w) div 9 cell bounds at w = 32), and folded into the 64-bit
    // dHash. Ends with CTE `dh(asset_id, dhash)`.
    lazy val photoDhashCtes: String = photoDhashChain(
      """assets AS (
        |  SELECT 2*doc_id AS asset_id, doc_id AS seed, 0 AS noise FROM documents
        |  UNION ALL
        |  SELECT 2*doc_id + 1 AS asset_id,
        |    CASE WHEN doc_id % 3 = 0 THEN doc_id ELSE doc_id + 500000 END AS seed,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS noise
        |  FROM documents)""".stripMargin)

    /** The pixel → gray → 9×8 cells → dHash chain over ANY
      * `assets(asset_id, seed, noise)` CTE — the corpus is the only thing
      * the perceptual rows vary. */
    def photoDhashChain(assetsCte: String): String =
      assetsCte + ",\n" + """pxg AS (SELECT asset_id,
        |    (((base + n) % 256) + ((base + 85 + n) % 256)
        |      + ((base + 170 + n) % 256)) // 3 AS gray,
        |    (y // 2) AS r, ((9*x + 8) // 32) AS c
        |  FROM (SELECT asset_id, x, y,
        |      ((7*seed + (x + seed % 13)*(x + seed % 13) + 3*y
        |        + 5*((x*(y + seed % 7)) % 11)) % 256) AS base,
        |      CASE WHEN (x + y) % 2 = 0 THEN noise ELSE 0 END AS n
        |    FROM assets,
        |      (SELECT unnest(range(0, 32)) AS x),
        |      (SELECT unnest(range(0, 16)) AS y))),
        |cells AS (SELECT asset_id, r, c,
        |    (sum(gray) // count(*))::BIGINT AS m
        |  FROM pxg GROUP BY 1, 2, 3),
        |dh AS (SELECT a.asset_id,
        |    coalesce(sum(CASE WHEN a.m > b.m THEN
        |      CASE WHEN a.r = 7 AND a.c = 7 THEN -9223372036854775807 - 1
        |           ELSE (1::BIGINT << (a.r*8 + a.c)::INT) END
        |      ELSE 0 END), 0)::BIGINT AS dhash
        |  FROM cells a JOIN cells b
        |    ON b.asset_id = a.asset_id AND b.r = a.r AND b.c = a.c + 1
        |  WHERE a.c < 8
        |  GROUP BY 1)""".stripMargin

    // The audio-fingerprint corpus (two recordings per doc; twin = the
    // same melody at gain 3 at doc_id % 3 == 0) restated from the
    // amplitude contour: within a frame every sample is ±gain·A(f), so
    // E(f) = 16·gain²·A(f)² and the delta-sign bits reduce to
    // A(f+1) > A(f) — gain cancels, which is the level-invariance law the
    // row gates. Ends with CTE `pr(asset_id, aprint)`.
    lazy val audioPrintCtes: String =
      """au AS (
        |  SELECT 2*doc_id AS asset_id, doc_id AS seed FROM documents
        |  UNION ALL
        |  SELECT 2*doc_id + 1 AS asset_id,
        |    CASE WHEN doc_id % 3 = 0 THEN doc_id ELSE doc_id + 500000 END
        |  FROM documents),
        |amp AS (SELECT asset_id, f,
        |    200 + (('0x' || substr(md5(seed::VARCHAR || ':' || f::VARCHAR),
    |      1, 8))::BIGINT % 900) AS a
        |  FROM au, (SELECT unnest(range(0, 65)) AS f)),
        |pr AS (SELECT x.asset_id,
        |    coalesce(sum(CASE WHEN y.a > x.a THEN
        |      CASE WHEN x.f = 63 THEN -9223372036854775807 - 1
        |           ELSE (1::BIGINT << x.f::INT) END
        |      ELSE 0 END), 0)::BIGINT AS aprint
        |  FROM amp x JOIN amp y
        |    ON y.asset_id = x.asset_id AND y.f = x.f + 1
        |  WHERE x.f < 64
        |  GROUP BY 1)""".stripMargin

    // The shared curation-pipeline CTE chain (exact dedup survivors →
    // minhash LSH pairs → connected components → losers), used by the
    // curation_pipeline/_quality/_incremental and curation_funnel oracles.
    // Must follow a "WITH RECURSIVE" header. `src` is the input relation —
    // a table name or a parenthesized subquery (the incremental row feeds
    // the history-filtered batch through the SAME chain). `sfx` suffixes
    // every CTE name so one statement can carry TWO chains (the
    // extracted-vs-raw contrast row); `threshold` mirrors
    // Config.jaccardThreshold when a row overrides the 0.5 default.
    def curationCtes(src: String = "documents", sfx: String = "",
                     threshold: String = "0.5",
                     wordsExpr: String = "string_split(lower(text), ' ')")
        : String =
      s"""docs0$sfx AS (SELECT doc_id, text FROM $src d0 WHERE doc_id IN (
         |  SELECT min(doc_id) FROM $src d1 GROUP BY md5(lower(text)))),
         |w$sfx AS (SELECT doc_id, $wordsExpr AS words FROM docs0$sfx),
         |sh$sfx AS (SELECT doc_id, $wordShingles3 AS s FROM w$sfx),
         |sh2$sfx AS (SELECT doc_id, s FROM sh$sfx WHERE len(s) > 0),
         |sig$sfx AS (SELECT doc_id, $minhashSigs AS sigs FROM sh2$sfx),
         |bands$sfx AS (SELECT doc_id, unnest(range(1, 5)) AS band,
         |  unnest($minhashBands) AS v FROM sig$sfx),
         |cand$sfx AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands$sfx a JOIN bands$sfx b ON a.band = b.band AND a.v = b.v
         |  AND a.doc_id < b.doc_id),
         |pairs$sfx AS (SELECT a_id, b_id FROM (
         |  SELECT a_id, b_id,
         |    len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
         |  FROM cand$sfx JOIN sh2$sfx x ON x.doc_id = cand$sfx.a_id JOIN sh2$sfx y ON y.doc_id = cand$sfx.b_id)
         |  WHERE jaccard >= $threshold),
         |edges$sfx AS (SELECT a_id AS s, b_id AS t FROM pairs$sfx
         |  UNION SELECT b_id, a_id FROM pairs$sfx),
         |reach$sfx(s, t) AS (SELECT s, t FROM edges$sfx
         |  UNION SELECT r.s, e.t FROM reach$sfx r JOIN edges$sfx e ON r.t = e.s),
         |losers$sfx AS (SELECT s FROM reach$sfx GROUP BY s HAVING least(s, min(t)) <> s)""".stripMargin

    // the quality-gate predicate over docs0 rows (min tokens + stopword cap)
    lazy val curationQualityPred: String =
      s"""len(string_split(text, ' ')) >= 30
         |  AND ${markerCountOver(stopwords, "string_split(lower(text), ' ')")}::DOUBLE / len(string_split(text, ' ')) <= 0.25""".stripMargin
  }
}
