package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The middleware stages (U1, `ner_tagger/middleware.py:125-130`):
  * post-processing over the tagged-mention relation, one plain
  * `DataFrame => DataFrame` function per entry of the reference's
  * `middleware = {'passthrough','sentiment','nertagger','zmq'}` dict —
  * the zmq variant collapses into [[Lemmatizer.normalized]] (its worker just
  * lemmatized + regrouped, `middlewareServer.py:90-131`). Callers name the
  * function they compose; no path selects a middleware by a runtime string,
  * so no name-to-stage map is kept.
  */
object Middleware {

  /** A3 — passthrough (`middleware.py:8-12`). */
  def passthrough(df: DataFrame): DataFrame = df

  /** A1 — nertagger middleware (`middleware.py:45-69`): over all mention
    * rows of a document, drop sub-threshold confidences (`>=` comparison,
    * `middleware.py:62`), discard span info, group distinct mention texts by
    * label. Set semantics make value order non-deterministic in the
    * reference; we canonicalize with `array_sort` (SURVEY.md §2 A1).
    *
    * Input: (keyCols..., label, mention, confidence); one row per occurrence.
    * Output: one row per (keyCols, label) with a sorted distinct mention
    * array — partial+final hash aggregation, no extra shuffle beyond the one
    * groupBy.
    */
  def entityGroups(df: DataFrame, keyCols: Seq[String],
      threshold: Double = Tagger.threshold): DataFrame =
    df.filter(col("confidence") >= threshold)
      .groupBy((keyCols :+ "label").map(col): _*)
      .agg(array_sort(collect_set(col("mention"))).as("entities"))

  /** A1 final shape — the per-document entity map
    * `map<label, array<mention>>` (README.md:74 result shape).
    */
  def entityMap(df: DataFrame, keyCols: Seq[String],
      threshold: Double = Tagger.threshold): DataFrame =
    entityGroups(df, keyCols, threshold)
      .groupBy(keyCols.map(col): _*)
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("label"), col("entities")))))
        .as("entity_map"))

  /** A2 — sentiment middleware (`middleware.py:14-43`): over label rows
    * `(value, confidence)`, score = (Σ +conf for positive labels, −conf for
    * negative) / (total − unknown). Positive/negative defaults from
    * `nerapi.py:79-84`. The reference div-by-zero when all labels are
    * unknown (`middleware.py:41`) is pinned as `null` here (documented
    * divergence: batch engines surface it as null, not a 500).
    */
  def sentiment(df: DataFrame, keyCols: Seq[String],
      positive: Seq[String] = Seq("OTHER", "POSITIV"),
      negative: Seq[String] = Seq("NEGATIV", "OFFENSE"),
      valueCol: String = "label", confCol: String = "confidence"): DataFrame = {
    val v = col(valueCol)
    val c = col(confCol)
    val signed = when(v.isin(positive: _*), c)
      .when(v.isin(negative: _*), -c).otherwise(lit(0.0))
    val known = when(v.isin(positive ++ negative: _*), 1L).otherwise(0L)
    df.groupBy(keyCols.map(col): _*)
      .agg((sum(signed) / nullif(sum(known), lit(0L))).as("score"))
  }
}

/** G5 — the spacy lemmatize/filter worker's semantics
  * (`middlewareServer.py:90-131`): per entity mention, drop article tokens
  * (spacy `tag_ == "ART"`; approximated by a closed article set covering the
  * reference's German plus English), join remaining tokens with one space,
  * lower-case (lemma normal form), then regroup distinct values by label.
  */
object Lemmatizer {

  val articles: Seq[String] = Seq(
    "der", "die", "das", "den", "dem", "des", "ein", "eine", "einen",
    "einem", "einer", "eines", "the", "a", "an")

  /** Normalization of a mention column: lowercase, split on single spaces,
    * drop article tokens, re-join — as the fused native expression
    * ([[graft.expressions.NormalizeMention]]); the linker runs this on
    * every mention occurrence and the HOF chain evaluates interpreted.
    */
  def normalizeMention(c: Column): Column =
    graft.expressions.NormalizeMention.normalize_mention(c)

  /** The higher-order-function chain — the parity twin the native
    * expression is spec-checked against (and the shape mirrored by
    * [[normalizeSqlDuck]]).
    */
  private[graft] def normalizeColHof(c: Column): Column = {
    val toks = split(lower(c), " ")
    val kept = filter(toks, t => !t.isin(articles: _*))
    array_join(kept, " ")
  }

  def normalizeScalar(s: String): String =
    s.toLowerCase.split(" ").filterNot(articles.contains).mkString(" ")

  /** DuckDB twin of [[normalizeMention]] over column expr `col`. The
    * `coalesce` is load-bearing: `list_aggr(..., 'string_agg', ...)` over an
    * empty list returns NULL where Spark's `array_join` returns '' — a
    * pure-article mention would otherwise diverge across engines.
    */
  def normalizeSqlDuck(col: String): String = {
    val arts = articles.map(a => s"'$a'").mkString(", ")
    s"coalesce(list_aggr(list_filter(string_split(lower($col), ' '), " +
      s"t -> t NOT IN ($arts)), 'string_agg', ' '), '')"
  }

  /** Stage form: adds `mention_norm`, drops mentions that normalize to
    * empty (pure-article mentions — reference drops them the same way:
    * an all-ART entity contributes an empty lemma string which the set
    * keeps; we instead drop empties and document the divergence in tests).
    */
  def normalized(df: DataFrame, mentionCol: String = "mention"): DataFrame =
    df.withColumn("mention_norm", normalizeMention(col(mentionCol)))
      .filter(length(col("mention_norm")) > 0)
}
