package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{AliasEntry, Entity}

/** G4 — the deterministic tagger stage that replaces the reference's flair
  * model call (`modelServer.py:65-79`, default model at `modelServer.py:249-251`)
  * per the north-star: (a) regex/token-pattern NER over the content column,
  * (b) gazetteer/dictionary mention detection via a broadcast alias
  * dictionary. Both emit the same `entities` struct
  * `(text, label, confidence, begin, end)` the reference's downstream
  * middleware consumes (`middleware.py:45-69`), so every downstream operator
  * is semantics-identical.
  *
  * The pattern set is the single source of truth: it generates the Spark
  * plan, the DuckDB oracle SQL, and the plain-Scala reference-scalar tagger
  * (the P/R fixture of FIXTURES.md §2).
  */
object Tagger {

  /** One NER pattern: label, Java/RE2-compatible regex (kept in the shared
    * subset of both dialects), constant confidence, and the capture group
    * that is the mention text (0 = whole match). The reference's default
    * threshold is 0.95 (`nerapi.py:85-87`); LOW_CONF sits below it to
    * exercise P4.
    */
  final case class Pattern(label: String, regex: String, confidence: Double,
      group: Int = 0)

  /** Patterns are chosen to fire on the driver corpus vocabulary (30 words,
    * see TESTDATA.md) while mirroring the reference label set observed in
    * `README.md:74-101` (PERSON / GPE / ORG / WORK_OF_ART). Terms are
    * non-overlapping across alternatives so Java-regex and RE2 leftmost
    * semantics agree.
    */
  val patterns: Seq[Pattern] = Seq(
    Pattern("PERSON", "\\bcustomer\\b|\\bAnton Schwarz\\b", 0.99),
    // Reproduces the reference's split-path PERSON drop and nosplit-path
    // recovery (README.md:84-98): "Elisabeth II" only tags when a
    // continuation word follows the "II." — the sentence splitter breaks
    // exactly there, so the split path never matches. The reference's flair
    // model emits "Elisabeth II" without the period; group 1 does the same.
    Pattern("PERSON", "\\b(Elisabeth II)\\. [a-zäöüA-Z]", 0.99, group = 1),
    Pattern("ORG", "\\bspark\\b|\\bhash join\\b|\\bmerge\\b", 0.98),
    Pattern("GPE", "\\bstream\\b|\\bvector\\b|\\bDresden\\b", 0.97),
    // quoted-title variant listed first: leftmost-first alternation tags
    // "\"Traumwerkstadt\"" WITH quotes when quoted (README.md:96-98).
    Pattern("WORK_OF_ART",
      "\"Traumwerkstadt\"|\\bthe window\\b|\\btable scan\\b|\\bwindow\\b|\\bTraumwerkstadt\\b",
      0.96),
    Pattern("LOW_CONF", "\\bdup\\b", 0.90)
  )

  /** Default confidence threshold (reference `--nerthreshold`,
    * `nerapi.py:85-87`; applied with `>=` at `middleware.py:62`).
    */
  val threshold: Double = 0.95

  /** Alias dictionary for entity linking (J2). Broadcast side; ~tiny.
    * Includes an ambiguous alias ("merge" -> E8/E9) to exercise
    * context-similarity scoring + row_number pick (FIXTURES.md §3).
    */
  val aliasDict: Seq[AliasEntry] = Seq(
    AliasEntry("customer", "E01", "PERSON", 0.90, "en"),
    AliasEntry("spark", "E02", "ORG", 0.95, "en"),
    AliasEntry("hash join", "E03", "ORG", 0.85, "en"),
    AliasEntry("merge", "E04", "ORG", 0.60, "en"),
    AliasEntry("merge", "E05", "ORG", 0.55, "de"),
    AliasEntry("stream", "E06", "GPE", 0.80, "fr"),
    AliasEntry("vector", "E07", "GPE", 0.75, "es"),
    AliasEntry("table scan", "E08", "WORK_OF_ART", 0.88, "en"),
    AliasEntry("window", "E09", "WORK_OF_ART", 0.70, "de"),
    AliasEntry("the window", "E09", "WORK_OF_ART", 0.65, "en")
  )

  /** Language-match bonus added to the alias prior when the document's
    * `lang` equals the alias's preferred language (context-similarity
    * scoring, J2).
    */
  val langBonus: Double = 0.2

  // ---- Spark-side tagging (pure Catalyst, whole-stage codegen) -----------

  /** Tag a column: returns one row per (label, mention occurrence), no span
    * info — the Catalyst-only fast path (`regexp_extract_all`, codegen'd).
    * Input df must carry `textCol`; output adds (label, mention, confidence).
    *
    * SINGLE-SCAN design: all patterns evaluate in one projection over one
    * pass of the input (per-pattern arrays → flatten → one explode). A
    * union-of-branches formulation would re-scan the source — and re-run
    * any upstream UDF stage like the sentence splitter — once per pattern,
    * which is unacceptable at 10^12-file scale.
    */
  def tagMentions(df: DataFrame, textCol: String): DataFrame =
    tagMentionsWith(patterns)(df, textCol)

  /** U3 — the pluggable-model point (`--model`, `modelServer.py:249-251`):
    * the tagger stage parameterized by an arbitrary pattern/gazetteer set.
    *
    * When every pattern is in the literal-alternation subset (the shipped
    * set is), tagging runs as ONE merged literal scan per row
    * ([[graft.expressions.TagMentions]]) instead of one regex pass per
    * pattern; arbitrary regexes fall back to the `regexp_extract_all`
    * formulation. Both paths emit identical rows (spec-pinned, plus the
    * DuckDB oracle which always takes the regex dialect).
    */
  def tagMentionsWith(ps: Seq[Pattern])(df: DataFrame, textCol: String): DataFrame =
    graft.expressions.LiteralScanner.forPatterns(ps) match {
      case Some(scanner) => explodeTagged(df, textCol,
        graft.expressions.TagMentions.tag_mentions(col(textCol), scanner))
      case None => tagMentionsRegex(ps)(df, textCol)
    }

  /** The regexp_extract_all formulation, regardless of pattern shape —
    * the parity twin the literal-scan path is spec-checked against.
    */
  private[graft] def tagMentionsRegex(ps: Seq[Pattern])(df: DataFrame,
      textCol: String): DataFrame = {
    val perPattern = ps.map { p =>
      transform(
        regexp_extract_all(col(textCol), lit(p.regex), lit(p.group)),
        m => struct(lit(p.label).as("label"),
          lit(p.confidence).as("confidence"), m.as("mention")))
    }
    explodeTagged(df, textCol, flatten(array(perPattern: _*)))
  }

  /** One row per element of `tagged` (an array of (label, confidence,
    * mention) structs), with `textCol` dropped.
    */
  private def explodeTagged(df: DataFrame, textCol: String,
      tagged: Column): DataFrame =
    df.select(col("*"), explode(tagged).as("e"))
      .select(col("*"), col("e.label"), col("e.confidence"), col("e.mention"))
      .drop("e", textCol)

  // ---- U3 twin: deterministic TextClassifier (flair sentiment analogue) --

  /** Sentiment lexicon over the driver-corpus vocabulary: the deterministic
    * stand-in for a flair `TextClassifier` (README.md:201-213 documents the
    * reference accepting either model family). Emits one doc-level label
    * row per lexicon hit: (value, confidence) — the shape
    * `sentimentmiddleware` consumes (`middleware.py:30-41`).
    */
  val sentimentLexicon: Seq[(String, String, Double)] = Seq(
    ("POSITIV", "\\bfast\\b|\\bbig\\b", 0.97),
    ("NEGATIV", "\\bslow\\b|\\bsmall\\b", 0.96),
    ("OTHER", "\\bquery\\b", 0.80))

  /** Classify: one row per lexicon match occurrence with (value, confidence).
    * Single-scan like [[tagMentionsWith]].
    */
  def classify(df: DataFrame, textCol: String): DataFrame =
    tagMentionsWith(sentimentLexicon.map { case (l, rx, c) => Pattern(l, rx, c) })(
      df, textCol)
      .withColumnRenamed("label", "value")
      .drop("mention")

  def classifySqlDuck(keyCols: Seq[String], textExpr: String, from: String): String =
    sentimentLexicon.map { case (l, rx, c) =>
      s"SELECT ${keyCols.mkString(", ")}, '$l' AS value, " +
        s"CAST($c AS DOUBLE) AS confidence " +
        s"FROM $from, unnest(regexp_extract_all($textExpr, '$rx')) u(m)"
    }.mkString("(", " UNION ALL ", ")")

  /** Spark-SQL (DuckDB-shared) fragment tagging cleaned column expr. Emits a
    * UNION ALL over the pattern set; used to build oracle SQL from the same
    * constants. `from` is the relation providing (keyCols..., textExpr).
    */
  def tagSqlDuck(keyCols: Seq[String], textExpr: String, from: String): String =
    patterns.map { p =>
      val pat = p.regex // SQL single-quoted strings keep backslashes literal
      s"SELECT ${keyCols.mkString(", ")}, '${p.label}' AS label, " +
        s"CAST(${p.confidence} AS DOUBLE) AS confidence, u.m AS mention " +
        s"FROM $from, unnest(regexp_extract_all($textExpr, '$pat', ${p.group})) u(m)"
    }.mkString("(", " UNION ALL ", ")")

  // ---- Span oracle (DuckDB twin of the Java-regex scan, g4_spans) --------

  /** One alternative of a pattern, normalized for the span oracle AND the
    * fast literal-scan tagger ([[LiteralScanner]]). The generator PARSES
    * the shared [[patterns]] constants (it does not carry its own copy) and
    * supports exactly the two shapes the pattern set uses —
    * `\bLITERAL\b` / bare-literal alternations, and the
    * `\b(LITERAL)\. [class]` context-group shape; anything else throws, so
    * a pattern edit cannot silently desynchronize the derived forms.
    */
  private[graft] final case class SpanAlt(label: String, confidence: Double,
      pat: Int, alt: Int, literal: String, leftB: Boolean, rightB: Boolean,
      suffixClass: Option[String], groupLen: Int, fullLen: Int)

  private[graft] val wordChars: Set[Char] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') :+ '_').toSet

  /** Parse an arbitrary pattern set into literal alternatives; throws on
    * any regex shape outside the supported subset (callers that want a
    * fallback wrap in Try).
    */
  private[graft] def parseAlts(ps: Seq[Pattern]): Seq[SpanAlt] =
    ps.zipWithIndex.flatMap { case (p, pi) =>
      val shapeB = """^\\b\(([^()\\]+)\)\\\. \[([^\]]+)\]$""".r
      p.regex match {
        case shapeB(lit, cls) =>
          require(p.group == 1, s"shape-B pattern must capture group 1: ${p.regex}")
          // full match consumes LITERAL + '. ' + one class char
          Seq(SpanAlt(p.label, p.confidence, pi, 0, lit, leftB = true,
            rightB = false, Some(cls), lit.length, lit.length + 3))
        case rx =>
          require(p.group == 0, s"unsupported span-oracle shape: $rx")
          rx.split('|').toSeq.zipWithIndex.map { case (a, ai) =>
            val leftB = a.startsWith("\\b")
            val rightB = a.endsWith("\\b")
            val lit = a.stripPrefix("\\b").stripSuffix("\\b")
            require(lit.nonEmpty && !lit.exists("\\[](){}.*+?^$|".contains(_)),
              s"non-literal alternative not supported by span oracle: $a")
            require(!leftB || wordChars.contains(lit.head),
              s"\\b before non-word char unsupported: $a")
            require(!rightB || wordChars.contains(lit.last),
              s"\\b after non-word char unsupported: $a")
            SpanAlt(p.label, p.confidence, pi, ai, lit, leftB, rightB, None,
              lit.length, lit.length)
          }
      }
    }

  private def spanAlts: Seq[SpanAlt] = parseAlts(patterns)

  /** DuckDB twin of [[tagScalar]] INCLUDING character spans, as a
    * parenthesized relation
    * `(keys..., label, confidence, mention, begin_pos, end_pos)`.
    *
    * Java's `Matcher.find` loop is simulated exactly: candidate matches
    * are enumerated per (doc, pattern, position, alternative) with the
    * \b word-boundary checks ([0-9A-Za-z_], the shared ASCII dialect),
    * then a recursive CTE walks each (doc, pattern)'s candidates with the
    * scan cursor — leftmost position wins, first alternative breaks ties,
    * and the cursor jumps past the FULL match (so an overlapping later
    * candidate is skipped, e.g. "window" inside "the window").
    */
  def tagSpansSqlDuck(keys: Seq[String], textExpr: String, from: String): String = {
    val k = keys.mkString(", ")
    val word = "[0-9A-Za-z_]"
    val altSelects = spanAlts.map { a =>
      val lit = a.literal.replace("'", "''")
      val m = a.literal.length
      val conds = Seq(s"substr(t, p, $m) = '$lit'") ++
        (if (a.leftB)
          Seq(s"(p = 1 OR NOT regexp_matches(substr(t, p - 1, 1), '^$word$$'))")
        else Nil) ++
        (if (a.rightB)
          Seq(s"NOT regexp_matches(substr(t, p + $m, 1), '^$word$$')")
        else Nil) ++
        a.suffixClass.map(cls =>
          s"substr(t, p + $m, 2) = '. ' AND " +
            s"regexp_matches(substr(t, p + $m + 2, 1), '^[$cls]$$')").toSeq
      s"SELECT $k, t, ${a.pat} AS pat, ${a.alt} AS alt, p, " +
        s"${a.groupLen} AS glen, ${a.fullLen} AS flen, '${a.label}' AS label, " +
        s"CAST(${a.confidence} AS DOUBLE) AS confidence " +
        s"FROM span_docs, unnest(range(1, length(t) + 1)) u(p) " +
        s"WHERE ${conds.mkString(" AND ")}"
    }
    def keyEq(x: String, y: String) =
      keys.map(c => s"$x.$c = $y.$c").mkString(" AND ")
    val kc = keys.map(c => s"c.$c").mkString(", ")
    s"""(WITH RECURSIVE span_docs AS (SELECT $k, $textExpr AS t FROM $from),
      |span_cand AS (${altSelects.mkString("\n  UNION ALL\n  ")}),
      |span_walk AS (
      |  SELECT $kc, c.t, c.pat, c.p, c.alt, c.glen, c.flen, c.label, c.confidence
      |  FROM span_cand c
      |  WHERE NOT EXISTS (SELECT 1 FROM span_cand c2 WHERE ${keyEq("c2", "c")}
      |    AND c2.pat = c.pat AND (c2.p < c.p OR (c2.p = c.p AND c2.alt < c.alt)))
      |  UNION ALL
      |  SELECT $kc, c.t, c.pat, c.p, c.alt, c.glen, c.flen, c.label, c.confidence
      |  FROM span_walk w JOIN span_cand c
      |    ON ${keyEq("c", "w")} AND c.pat = w.pat AND c.p >= w.p + w.flen
      |  WHERE NOT EXISTS (SELECT 1 FROM span_cand c2 WHERE ${keyEq("c2", "c")}
      |    AND c2.pat = c.pat AND c2.p >= w.p + w.flen
      |    AND (c2.p < c.p OR (c2.p = c.p AND c2.alt < c.alt))))
      |SELECT $k, label, confidence, substr(t, p, glen) AS mention,
      |  p - 1 AS begin_pos, p - 1 + glen AS end_pos FROM span_walk)""".stripMargin
  }

  // ---- Reference-scalar tagger (row-by-row; P/R oracle, FIXTURES.md §2) --

  /** Per-row tagger with spans: finds every pattern occurrence in the
    * (already cleaned) text. This is the "reference tags" semantics the
    * north rule measures P/R against — same patterns, executed imperatively
    * outside Spark.
    */
  private lazy val compiledPatterns: Seq[(Pattern, java.util.regex.Pattern)] =
    patterns.map(p => (p, java.util.regex.Pattern.compile(p.regex)))

  def tagScalar(cleaned: String): Seq[Entity] =
    compiledPatterns.flatMap { case (p, rx) =>
      val m = rx.matcher(cleaned)
      val out = scala.collection.mutable.ArrayBuffer.empty[Entity]
      while (m.find()) {
        out += Entity(m.group(p.group), p.label, p.confidence,
          m.start(p.group), m.end(p.group))
      }
      out.toSeq
    }

  // ---- Span-true distributed tagger (UDF; the one allowed UDF class) -----

  /** Entity extraction with character spans as a UDF over the sentence
    * column — the tokenizer-class UDF the input_hint allows. Used by the
    * full pipeline where span info must survive (FIXTURES.md §2 schema);
    * the Catalyst `tagMentions` path is preferred when spans are not needed.
    */
  def tagWithSpansUdf(spark: SparkSession) = {
    udf((text: String) => if (text == null) Seq.empty[Entity] else tagScalar(text))
  }

  /** Span-true tagging as a Column: the native literal-scan kernel
    * ([[graft.expressions.TagSpans]]) when the pattern set is in the
    * supported literal subset (the shipped set is), the UDF formulation
    * otherwise — the same fast-path/fallback split as [[tagMentionsWith]].
    * Row set, spans, AND per-row order are identical to the UDF path
    * (randomized spec in TaggerMiddlewareSpec; the UDF stays as the parity
    * twin per the kernel contract). Null text yields no surviving rows on
    * either path (kernel: null array; UDF: empty array — `explode` drops
    * both).
    */
  def tagSpansCol(spark: SparkSession, c: Column): Column =
    graft.expressions.LiteralScanner.forPatterns(patterns) match {
      case Some(scanner) => graft.expressions.TagSpans.tag_spans(c, scanner)
      case None => tagWithSpansUdf(spark)(c)
    }

  /** Broadcast alias dictionary as a DataFrame (J2 build side). */
  def aliasDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(aliasDict).toDF()
  }

  /** DuckDB VALUES literal for the alias dictionary (oracle twin of
    * [[aliasDf]]).
    */
  def aliasSqlDuck: String =
    aliasDict.map { a =>
      s"('${a.alias_norm}', '${a.entity_id}', '${a.label}', " +
        s"CAST(${a.prior} AS DOUBLE), '${a.pref_lang}')"
    }.mkString(
      "(SELECT * FROM (VALUES ",
      ", ",
      ") AS t(alias_norm, entity_id, label, prior, pref_lang))")
}
