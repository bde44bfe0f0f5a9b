package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenizer seam for every word-token operator (minhash dedup, BM25,
  * quality gates): the choice of "what is a token" is the first thing that
  * breaks on a real multilingual corpus — whitespace splitting makes a
  * CJK/Thai document ONE token, so minhash signatures degenerate, BM25
  * matches nothing, and word-count gates reject everything.
  *
  * Both tokenizers are PORTABLE laws: pure built-in Column expressions on
  * the Spark side, with the DuckDB restatement carried right next to the
  * definition ([[Tokenizer.duckdbTokensSql]]) so a catalog oracle splices
  * the exact same rule — one place to change, two engines that cannot
  * drift.
  *
  * [[Tokenizer.Whitespace]] is the historical default everywhere (existing
  * results stay byte-identical); [[Tokenizer.ScriptAware]] is the
  * multilingual path.
  */
sealed trait Tokenizer {
  /** Stable identifier persisted in served-store sidecars
    * ([[StoreMeta]]) — a probe built with a DIFFERENT tokenizer than the
    * store produces disjoint shingles and silently near-empty matches,
    * so the id travels with the state and is verified at open time. */
  def id: String

  /** Lower-cased token array of `text`. */
  def tokens(text: Column): Column

  /** CASE-PRESERVING token array — for consumers that re-emit the tokens
    * as text (RAG chunking), where lowercasing would corrupt the output.
    * Same segmentation law as [[tokens]] minus the lowercase step. */
  def rawTokens(text: Column): Column

  /** DuckDB restatement of [[tokens]] over a SQL expression — what a
    * catalog oracle uses as its `words` definition. */
  def duckdbTokensSql(textExpr: String): String
}

object Tokenizer {

  /** Split on single ASCII spaces (keeps empty tokens on runs) — the
    * original convention of every operator in this library. Right for
    * space-delimited corpora; degenerate on CJK/Thai. */
  case object Whitespace extends Tokenizer {
    val id = "whitespace"
    def tokens(text: Column): Column = split(lower(text), " ")
    def rawTokens(text: Column): Column = split(text, " ")
    def duckdbTokensSql(textExpr: String): String =
      s"string_split(lower($textExpr), ' ')"
  }

  /** Script-run tokenization for scripts that do not delimit words with
    * spaces: every codepoint in the CJK/Kana/Hangul/Thai ranges below
    * becomes its OWN token (the standard character-unigram fallback —
    * exactly what gives minhash/BM25/count gates usable granularity
    * without a segmentation model); everything else still splits on
    * spaces. Empty tokens are dropped (the padding inserts space runs).
    *
    * The rule is three engine-portable steps — lowercase, space-pad every
    * in-range codepoint (`regexp_replace` with a capture), split on space
    * runs and drop empties — over EXPLICIT BMP codepoint ranges (no \p{}
    * classes, whose table versions differ across regex engines):
    * Hangul Jamo, Hiragana, Katakana (+ phonetic extensions), Hangul
    * compatibility Jamo, CJK ideographs (unified + extension A +
    * compatibility), Hangul syllables, Thai. Lowercasing is a no-op on
    * all of them, so the lower/pad order is immaterial.
    *
    * Thai is not truly character-segmentable (words span codepoints), but
    * a deterministic per-codepoint rule is the portable choice — it
    * degrades to character shingles, the standard no-segmenter fallback. */
  case object ScriptAware extends Tokenizer {
    val id = "script-aware"

    /** (start, end) inclusive BMP codepoint ranges, ascending. */
    val Ranges: Seq[(Int, Int)] = Seq(
      (0x0E00, 0x0E7F), // Thai
      (0x1100, 0x11FF), // Hangul Jamo
      (0x3040, 0x309F), // Hiragana
      (0x30A0, 0x30FF), // Katakana
      (0x3130, 0x318F), // Hangul compatibility Jamo
      (0x31F0, 0x31FF), // Katakana phonetic extensions
      (0x3400, 0x4DBF), // CJK unified ideographs extension A
      (0x4E00, 0x9FFF), // CJK unified ideographs
      (0xAC00, 0xD7A3), // Hangul syllables
      (0xF900, 0xFAFF)) // CJK compatibility ideographs

    /** Java-regex character class (actual chars — all ranges are BMP). */
    private[ext] val javaClass: String =
      "[" + Ranges.map { case (a, b) => s"${a.toChar}-${b.toChar}" }
        .mkString + "]"

    /** RE2 character class with \x{hhhh} escapes — pure-ASCII SQL, so the
      * oracle text survives any transport encoding. */
    private[ext] val re2Class: String =
      "[" + Ranges.map { case (a, b) => f"\\x{$a%04X}-\\x{$b%04X}" }
        .mkString + "]"

    def tokens(text: Column): Column =
      filter(
        split(regexp_replace(lower(text), "(" + javaClass + ")", " $1 "),
          " +"),
        t => t =!= "")

    def rawTokens(text: Column): Column =
      filter(
        split(regexp_replace(text, "(" + javaClass + ")", " $1 "), " +"),
        t => t =!= "")

    def duckdbTokensSql(textExpr: String): String =
      s"list_filter(string_split_regex(regexp_replace(lower($textExpr), " +
        s"'($re2Class)', ' \\1 ', 'g'), ' +'), t -> t <> '')"
  }

  /** DICTIONARY longest-match segmentation for unsegmented scripts (Thai
    * is the canonical case: words span codepoints and no delimiter exists)
    * — the production upgrade over [[ScriptAware]]'s per-codepoint
    * fallback. The law stays the same portable three steps (lowercase,
    * pad, split on space runs); the pad pattern is an ALTERNATION of the
    * dictionary words longest-first with the script character class as
    * the final single-codepoint fallback:
    *
    *   - regex scanning is position-major and alternation order breaks
    *     ties at a position in BOTH engines (Java regex and DuckDB's RE2
    *     are leftmost-FIRST), so descending-length ordering IS maximal
    *     munch: at each position the longest dictionary word wins, and a
    *     position no word covers degrades to one codepoint — exactly the
    *     greedy longest-match segmenter with character fallback;
    *   - dictionary words must consist entirely of in-class codepoints
    *     (enforced), so they are literal in both regex dialects — no
    *     escaping, no `\Q` (which RE2 lacks).
    *
    * The id carries an md5 of the ordered wordlist, so a served store
    * built under one lexicon refuses a probe under another. Ship a real
    * public wordlist as the `words` fixture; the law is lexicon-agnostic. */
  final case class Dictionary(words: Seq[String]) extends Tokenizer {
    require(words.nonEmpty, "Dictionary tokenizer needs a non-empty lexicon")
    words.foreach { w =>
      require(w.nonEmpty && w.forall(c =>
          ScriptAware.Ranges.exists { case (a, b) => c >= a && c <= b }),
        "dictionary words must consist of unsegmented-script codepoints " +
          s"(the char-fallback class) so they stay regex-literal: '$w'")
    }
    /** Longest-first, lexicographic tie-break: deterministic maximal munch. */
    private val ordered: Seq[String] = words.distinct.sortBy(w => (-w.length, w))

    /** The canonical (longest-first) wordlist — the byte stream [[id]] is
      * hashed over; what [[Tokenizer.saveLexicon]] persists. */
    private[ext] def orderedWords: Seq[String] = ordered

    val id: String = "dict-" + java.security.MessageDigest.getInstance("MD5")
      .digest(ordered.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)

    private val javaAlt: String =
      "(" + (ordered :+ ScriptAware.javaClass).mkString("|") + ")"
    private val re2Alt: String =
      "(" + (ordered.map(_.map(c => f"\\x{${c.toInt}%04X}").mkString)
        :+ ScriptAware.re2Class).mkString("|") + ")"

    def tokens(text: Column): Column =
      filter(split(regexp_replace(lower(text), javaAlt, " $1 "), " +"),
        t => t =!= "")

    def rawTokens(text: Column): Column =
      filter(split(regexp_replace(text, javaAlt, " $1 "), " +"),
        t => t =!= "")

    def duckdbTokensSql(textExpr: String): String =
      s"list_filter(string_split_regex(regexp_replace(lower($textExpr), " +
        s"'$re2Alt', ' \\1 ', 'g'), ' +'), t -> t <> '')"
  }

  /** Resolve a persisted tokenizer id ([[Tokenizer.id]], as recorded in a
    * served store's [[StoreMeta]] sidecar) back to its tokenizer. Loud on
    * an unknown id — a store built with a tokenizer this build does not
    * ship (or a [[Dictionary]] whose lexicon sidecar is absent — see
    * [[fromIdAt]]) cannot be probed faithfully. */
  def fromId(id: String): Tokenizer = id match {
    case Whitespace.id => Whitespace
    case ScriptAware.id => ScriptAware
    case d if d.startsWith("dict-") => sys.error(
      s"store was built with a Dictionary tokenizer ($d) and carries no " +
        "lexicon sidecar — repair it with Tokenizer.saveLexicon(spark, dir, " +
        "Tokenizer.Dictionary(words)) (the words must hash to the sidecar " +
        "id), then open it through an API that reads it (Tokenizer.fromIdAt)")
    case other => sys.error(
      s"unknown tokenizer id '$other' in store sidecar — the store was " +
        "built with a tokenizer this build does not provide")
  }

  /** Lexicon sidecar filename — a [[Dictionary]]'s wordlist persisted NEXT
    * TO the served store it built, so `*At` probes reconstruct the
    * tokenizer without the caller re-supplying it (the content-hashed id
    * in the geometry sidecar alone can only REFUSE a wrong lexicon, not
    * recover the right one). */
  val LexiconFileName = "_graft_lexicon.txt"

  /** Persist a [[Dictionary]]'s lexicon beside a store: UTF-8, one word
    * per line, in the tokenizer's canonical (longest-first) order — the
    * exact byte stream the content-hashed id is computed over, so
    * [[fromIdAt]] re-derives and re-verifies the id on read. A non-dict
    * tokenizer writes nothing (its id is self-resolving). */
  def saveLexicon(spark: org.apache.spark.sql.SparkSession, dir: String,
                  tok: Tokenizer): Unit = tok match {
    case d: Dictionary =>
      val p = new org.apache.hadoop.fs.Path(dir, LexiconFileName)
      graft.etl.Commit.replace(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
        d.orderedWords.mkString("\n"))
    case _ => ()
  }

  /** [[fromId]] with a store directory to read a [[Dictionary]] lexicon
    * sidecar from: a `dict-*` id loads [[LexiconFileName]] under `dir`,
    * rebuilds the tokenizer, and REQUIRES the rebuilt content-hash id to
    * equal the sidecar's — a tampered or swapped wordlist still refuses
    * loudly; a missing lexicon file falls back to [[fromId]]'s error. A
    * dict store written before the sidecar shipped is repaired by
    * [[saveLexicon]] with the same words (it writes [[LexiconFileName]]
    * into `dir`, so a read-only store is copied first); the id check here
    * then refuses any other wordlist. */
  def fromIdAt(spark: org.apache.spark.sql.SparkSession, dir: String,
               id: String): Tokenizer =
    if (!id.startsWith("dict-")) fromId(id)
    else {
      val p = new org.apache.hadoop.fs.Path(dir, LexiconFileName)
      graft.etl.Commit.readText(
          p.getFileSystem(spark.sparkContext.hadoopConfiguration), p) match {
        case None => fromId(id) // loud: no lexicon travels with this store
        case Some(text) =>
          val d = Dictionary(text.linesIterator.filter(_.nonEmpty).toSeq)
          require(d.id == id,
            s"lexicon sidecar under $dir hashes to ${d.id} but the store was " +
              s"built under $id — the wordlist drifted; probing with it would " +
              "segment differently and silently miss matches")
          d
      }
    }
}
