package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** G1/G2 — deterministic sentence splitting, replacing the reference's two
  * splitter backends (nltk punkt at `ner_tagger/sentsplitter.py:20-29`;
  * remote spacy at `splitServer.py:36-51`) with ONE rule-based splitter of
  * equivalent semantics. This is the UDF the input_hint explicitly allows
  * ("UDFs only for the tokenizer and sha256 check").
  *
  * Faithful reference behaviors pinned here:
  *  - text is `cleanup`-ed before splitting and each sentence is
  *    `cleanup`-ed again after (`sentsplitter.py:22-29`);
  *  - sentence order is preserved (`splitServer.py:39-43`, README.md:181);
  *  - punkt's documented mis-split after ordinal abbreviations like
  *    "Elisabeth II." (reference README.md:84-98) is REPRODUCED: a period
  *    after a roman-numeral token ends the sentence. Known prose
  *    abbreviations (Dr., Nr., z.B., ...) do NOT end a sentence.
  */
object Splitter {

  /** Abbreviations that never end a sentence (punkt-style known set). */
  private[graft] val abbrevs: Set[String] = Set(
    "dr", "prof", "mr", "mrs", "ms", "st", "nr", "no", "vs", "ca",
    "etc", "e.g", "i.e", "z.b", "u.a", "bzw", "inc", "ltd", "jr", "sr")

  private def isAbbrev(token: String): Boolean =
    abbrevs.contains(token.toLowerCase)

  // ---- shared char classes ------------------------------------------------
  // Each class exists as a Scala char set (the scalar/codegen path) AND an
  // RE2 class string (the DuckDB oracle twin, Splitter.splitSqlDuck) —
  // SINGLE source of truth, both sides move together. Explicit enumerations
  // replace Character.isUpper/isDigit/isWhitespace so the two engines agree
  // byte-for-byte; coverage is Latin + German (the reference's corpus
  // languages) — a disclosed narrowing from full Unicode categories.

  /** Chars that may OPEN a new sentence after a boundary. */
  private[graft] val boundaryStartChars: Set[Char] =
    (('A' to 'Z') ++ ('0' to '9') ++ "ÄÖÜ\"„«'").toSet
  private[graft] val boundaryStartRe2: String = "[A-Z0-9ÄÖÜ\"„«']"

  /** Token separators (the whitespace that delimits the last token; also
    * the trim set). `\n` never survives [[Text.cleanup]] but stays in the
    * class for standalone use.
    */
  private[graft] val sepChars: Set[Char] = " \t\n\f\r".toSet
  private[graft] val sepRe2: String = "[ \\t\\n\\x{0B}\\f\\r]"

  /** Chars a token may START with after stripping leading punctuation. */
  private[graft] val tokenKeepChars: Set[Char] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ ".äöüÄÖÜß").toSet
  private[graft] val tokenKeepRe2: String = "[A-Za-z0-9.äöüÄÖÜß]"

  // Bit-set twins of the char classes for the per-char hot loop (Set[Char]
  // boxes on every `contains`); derived from the sets above — single source
  // of truth preserved.
  private def bits(cs: Set[Char]): java.util.BitSet = {
    val b = new java.util.BitSet(cs.map(_.toInt).max + 1)
    cs.foreach(c => b.set(c.toInt))
    b
  }
  private val sepBits = bits(sepChars)
  private val tokenKeepBits = bits(tokenKeepChars)
  private val boundaryStartBits = bits(boundaryStartChars)

  private def trimWs(cs: CharSequence): String = {
    var a = 0
    var b = cs.length
    while (a < b && sepBits.get(cs.charAt(a))) a += 1
    while (b > a && sepBits.get(cs.charAt(b - 1))) b -= 1
    cs.subSequence(a, b).toString
  }

  /** punkt treats ordinal roman numerals as sentence-final: "Elisabeth II."
    * splits even before a lowercase continuation (reference README.md:101-105
    * `/split` transcript). Reproduced deliberately.
    */
  private def isRoman(token: String): Boolean =
    token.nonEmpty && token.length <= 5 && token.forall("IVXLCDM".contains(_))

  /** Split cleaned text into sentences. A sentence boundary is a run of
    * `[.!?]` followed by whitespace and an upper-case letter, digit, or
    * opening quote — unless the token ending at the punctuation is a known
    * abbreviation.
    */
  def splitScalar(raw: String): Seq[String] = {
    if (raw == null) return Seq.empty
    val text = Text.cleanupScalar(raw)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var i = 0
    val n = text.length
    while (i < n) {
      val ch = text.charAt(i)
      cur.append(ch)
      if (ch == '.' || ch == '!' || ch == '?') {
        // absorb the full punctuation run
        while (i + 1 < n && (text.charAt(i + 1) == '.' || text.charAt(i + 1) == '!' || text.charAt(i + 1) == '?')) {
          i += 1; cur.append(text.charAt(i))
        }
        val hasNext = i + 1 < n
        // first char after the (space-skipped) gap — index scan, no copy of
        // the string tail (`text.drop` here was O(n) per punctuation run)
        var j = i + 1
        while (j < n && text.charAt(j) == ' ') j += 1
        val startsNew = j < n && boundaryStartBits.get(text.charAt(j))
        val endTok = lastToken(cur, cur.length - 1)
        val boundary = (!hasNext || text.charAt(i + 1) == ' ') &&
          (startsNew || isRoman(endTok)) && !isAbbrev(endTok)
        if (boundary || !hasNext) {
          val s = Text.cleanupScalar(trimWs(cur))
          if (s.nonEmpty) out += s
          cur.setLength(0)
          // skip the single separating space (cleanup collapsed runs)
          if (i + 1 < n && text.charAt(i + 1) == ' ') i += 1
        }
      }
      i += 1
    }
    val tail = Text.cleanupScalar(trimWs(cur))
    if (tail.nonEmpty) out += tail
    out.toSeq
  }

  /** Last token of `cs[0, end)`: the trailing non-separator run, stripped of
    * leading non-token chars — scan-only twin of the original
    * `s.reverse.takeWhile(!sep).reverse.dropWhile(!tokenKeep)`.
    */
  private def lastToken(cs: CharSequence, end: Int): String = {
    var a = end
    while (a > 0 && !sepBits.get(cs.charAt(a - 1))) a -= 1
    while (a < end && !tokenKeepBits.get(cs.charAt(a))) a += 1
    cs.subSequence(a, end).toString
  }

  /** Naive fallback splitter: break after every sentence-final punctuation
    * run followed by a space, no abbreviation handling — the analogue of
    * the reference's degraded nltk fallback path (`sentsplitter.py:79-88`,
    * used after 3 zmq timeouts).
    */
  def naiveSplitScalar(raw: String): Seq[String] = {
    if (raw == null) return Seq.empty
    graft.functions.Text.cleanupScalar(raw)
      .split("(?<=[.!?]) ")
      .map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** U2 — the pluggable splitter registry (reference
    * `sentsplitter = {'nltk','zmq'}`, `sentsplitter.py:91-94`): the
    * nltk-vs-spacy duality collapses into the rule-based splitter, with the
    * naive variant standing in for the degraded fallback.
    */
  val registry: Map[String, String => Seq[String]] = Map(
    "rule" -> splitScalar,
    "naive" -> naiveSplitScalar)

  /** DuckDB SQL twin of cleanup ∘ [[splitScalar]] as a parenthesized
    * relation `(keys..., sent_idx, sentence)`, generated from the SAME
    * constants as the scalar (abbrev set, boundary/token char classes, the
    * roman-numeral rule) — change a constant and both engines move
    * together. `from` must provide the key columns plus `textExpr` (RAW
    * text; the twin applies cleanup itself, exactly like splitScalar).
    *
    * Shape: enumerate character positions (`unnest(range(...))`), keep
    * end-of-punctuation-run positions whose following char is a space,
    * apply the boundary predicate (new-sentence start class OR roman
    * ordinal, AND not a known abbreviation), then cut segments between
    * consecutive boundaries with a lag window and re-clean each sentence.
    */
  def splitSqlDuck(keys: Seq[String], textExpr: String, from: String): String = {
    val k = keys.mkString(", ")
    val cleaned = Text.cleanupSqlDuck(textExpr)
    val abbrevList = abbrevs.toSeq.sorted.map(a => s"'$a'").mkString(", ")
    val bStart = boundaryStartRe2.replace("'", "''")
    val sepInner = sepRe2.stripPrefix("[").stripSuffix("]")
    val tkInner = tokenKeepRe2.stripPrefix("[").stripSuffix("]")
    // trim set == sepChars (space + \t \n \x0B \f \r)
    val sepTrim = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    // last token before the punctuation run: trailing non-separator run of
    // the prefix, stripped of leading non-token chars (mirrors lastToken).
    val tokExpr = s"regexp_replace(regexp_extract(substr(t, 1, i - 1), " +
      s"'[^$sepInner]*$$'), '^[^$tkInner]+', '')"
    s"""(WITH split_c AS (SELECT $k, $cleaned AS t FROM $from),
      |split_i AS (SELECT *, unnest(range(1, length(t) + 1)) AS i FROM split_c),
      |split_p AS (SELECT $k, t, i, $tokExpr AS tok FROM split_i
      |  WHERE substr(t, i, 1) IN ('.', '!', '?') AND i < length(t) AND substr(t, i + 1, 1) = ' '),
      |split_cuts AS (SELECT $k, t, i AS cut FROM split_p
      |  WHERE (regexp_matches(ltrim(substr(t, i + 1), ' '), '^$bStart')
      |         OR regexp_matches(tok, '^[IVXLCDM]{1,5}$$'))
      |    AND lower(tok) NOT IN ($abbrevList)),
      |split_segs AS (SELECT $k, t, cut,
      |    lag(cut) OVER (PARTITION BY $k ORDER BY cut) AS prev,
      |    row_number() OVER (PARTITION BY $k ORDER BY cut) AS rn
      |  FROM split_cuts),
      |split_raw AS (
      |  SELECT $k, rn, substr(t, coalesce(prev + 2, 1), cut - coalesce(prev + 2, 1) + 1) AS raw FROM split_segs
      |  UNION ALL
      |  SELECT $k, coalesce(g.n, 0) + 1 AS rn, substr(t, coalesce(g.mc + 2, 1)) AS raw
      |  FROM split_c LEFT JOIN (SELECT $k, max(cut) AS mc, count(*) AS n FROM split_cuts GROUP BY $k) g USING ($k)),
      |split_s AS (SELECT $k, rn, ${Text.cleanupSqlDuck(s"trim(raw, $sepTrim)")} AS sentence FROM split_raw)
      |SELECT $k, CAST(row_number() OVER (PARTITION BY $k ORDER BY rn) - 1 AS INT) AS sent_idx, sentence
      |FROM split_s WHERE length(sentence) > 0)""".stripMargin
  }

  /** The splitter as a Spark UDF returning the ordered sentence array —
    * kept as the input_hint-sanctioned fallback; the pipeline uses the
    * codegen'd [[graft.expressions.SplitSentences]] expression (same scalar
    * twin underneath, no encoder round-trip).
    */
  val splitUdf = udf((text: String) => splitScalar(text))

  /** Stage: Doc-shaped df -> one row per sentence with `sent_idx` order
    * column carried via `posexplode` (O1 order preservation).
    */
  def explodeSentences(df: DataFrame, contentCol: String = "content"): DataFrame =
    df.select(
        col("*"),
        posexplode(graft.expressions.SplitSentences.split_sentences(col(contentCol)))
          .as(Seq("sent_idx", "sentence")))
      .drop(contentCol)
}

/** G3 — greedy re-chunking for the `nernosplit` long-text path, exactly
  * faithful to `ner_tagger/ner.py:183-192` INCLUDING its two quirks:
  * parts begin as `[""]` and sentences are appended as `part + " " +
  * sentence`, so the first chunk carries a leading space (trimmed only by
  * the later cleanup); and the length check precedes the append, so a chunk
  * may overshoot `maxnosplit`.
  */
object Chunker {

  val defaultMaxNoSplit: Int = 500 // reference --maxnosplit (nerapi.py:70-72)

  def chunkScalar(sentences: Seq[String], maxNoSplit: Int = defaultMaxNoSplit): Seq[String] = {
    val limit = maxNoSplit - (maxNoSplit * 0.1).toInt
    val parts = scala.collection.mutable.ArrayBuffer("")
    sentences.foreach { s =>
      val idx = parts.length - 1
      if (parts(idx).length < limit) parts(idx) = parts(idx) + " " + s
      else parts += s
    }
    parts.toSeq
  }

  /** Stage: Doc df -> one row per chunk. Short texts (<= maxNoSplit) pass
    * through whole, mirroring `ner.py:181,204` (len check). Both the inner
    * split and the greedy re-pack are codegen'd native expressions
    * ([[graft.expressions.SplitSentences]] /
    * [[graft.expressions.ChunkSentences]]) — no UDF encoder round-trips on
    * the nosplit path.
    */
  def explodeChunks(df: DataFrame, contentCol: String = "content",
      maxNoSplit: Int = defaultMaxNoSplit): DataFrame = {
    val chunks = when(length(col(contentCol)) <= maxNoSplit, array(col(contentCol)))
      .otherwise(graft.expressions.ChunkSentences.chunk_sentences(
        graft.expressions.SplitSentences.split_sentences(col(contentCol)),
        lit(maxNoSplit)))
    df.select(col("*"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .drop(contentCol)
  }

  /** DuckDB SQL twin of [[explodeChunks]] as a parenthesized relation
    * `(keys..., chunk_idx, chunk)` — the greedy re-pack fold is inherently
    * sequential per document, so the twin walks sentences with a recursive
    * CTE carrying (current part index, current part text); the final text
    * of each part index is the chunk. Reproduces BOTH reference quirks
    * (leading space on the first chunk; overshoot past maxNoSplit because
    * the length check precedes the append).
    */
  def chunkSqlDuck(keys: Seq[String], textExpr: String, from: String,
      maxNoSplit: Int = defaultMaxNoSplit): String = {
    val k = keys.mkString(", ")
    val limit = maxNoSplit - (maxNoSplit * 0.1).toInt
    val longFrom = s"(SELECT * FROM $from WHERE length($textExpr) > $maxNoSplit)"
    val sents = Splitter.splitSqlDuck(keys, textExpr, s"$longFrom lf")
    val wKeys = keys.map(c => "w." + c).mkString(", ")
    val joinKeys = keys.map(c => s"s.$c = w.$c").mkString(" AND ")
    val existsKeys = keys.map(c => s"cs.$c = le.$c").mkString(" AND ")
    s"""(WITH RECURSIVE chunk_sents AS (SELECT * FROM $sents cs),
      |chunk_walk ($k, sidx, part_idx, part) AS (
      |  SELECT $k, sent_idx, 0, ' ' || sentence FROM chunk_sents WHERE sent_idx = 0
      |  UNION ALL
      |  SELECT $wKeys, s.sent_idx,
      |    CASE WHEN length(w.part) < $limit THEN w.part_idx ELSE w.part_idx + 1 END,
      |    CASE WHEN length(w.part) < $limit THEN w.part || ' ' || s.sentence ELSE s.sentence END
      |  FROM chunk_walk w JOIN chunk_sents s ON $joinKeys AND s.sent_idx = w.sidx + 1),
      |chunk_long AS (
      |  SELECT $k, CAST(part_idx AS INT) AS chunk_idx, part AS chunk FROM chunk_walk
      |  QUALIFY row_number() OVER (PARTITION BY $k, part_idx ORDER BY sidx DESC) = 1),
      |chunk_empty AS (
      |  SELECT $k, 0 AS chunk_idx, '' AS chunk FROM $longFrom le
      |  WHERE NOT EXISTS (SELECT 1 FROM chunk_sents cs WHERE $existsKeys)),
      |chunk_short AS (SELECT $k, 0 AS chunk_idx, $textExpr AS chunk FROM $from sf WHERE length($textExpr) <= $maxNoSplit)
      |SELECT $k, chunk_idx, chunk FROM chunk_short
      |UNION ALL SELECT $k, chunk_idx, chunk FROM chunk_long
      |UNION ALL SELECT $k, chunk_idx, chunk FROM chunk_empty)""".stripMargin
  }
}
