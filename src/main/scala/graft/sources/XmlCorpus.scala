package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** S5 — XML training-corpus ingest (reference
  * `CustomModelTrainingExample.ipynb` cells 2-7), with NO external XML jar:
  * Spark's built-in Catalyst XPath expressions (`xpath`, `xpath_string`)
  * operate on the raw XML string column, so the whole extraction stays
  * inside a codegen'd projection.
  *
  * Reference semantics reproduced:
  *  - articles are rows whose `./item/category@scope == "cms-article"`;
  *  - text = every text node under `./item/corpus` in document order,
  *    joined with single spaces, EXCEPT the LEADING text node of
  *    `<location>` and `<em class="source">` elements inside bodytext
  *    paragraphs — exactly the `node.text` slot the notebook blanks in
  *    place (ElementTree `.text` is the text BEFORE the first child), so
  *    a dateline element that ever carries child elements keeps its child
  *    and tail text on both sides (spec-pinned in TextSplitSpec);
  *  - label = `./item/related[@rel='department']/directory/meta/
  *    id[@scope='url']` text;
  *  - the pair is serialized as a fasttext line `__label__<id> <text>`
  *    after the P1-P3 cleanup chain.
  */
object XmlCorpus {

  // `not(preceding-sibling::node())` restricts each exclusion to the
  // element's FIRST text-node child — the ElementTree `.text` slot the
  // notebook blanks (cells 2-7). Text nodes AFTER a child element inside
  // <location>/<em> (XPath: same parent, but with a preceding sibling)
  // survive, matching the notebook's in-place mutation byte-for-byte even
  // for nested datelines.
  private[graft] val categoryXpath = "/item/category/@scope"

  private[graft] val bodyTextXpath =
    "/item/corpus//text()[" +
      "not(parent::location[parent::p[@class=\"bodytext\"]] " +
      "and not(preceding-sibling::node())) and " +
      "not(parent::em[@class=\"source\"][parent::p[@class=\"bodytext\"]] " +
      "and not(preceding-sibling::node()))]"

  private[graft] val departmentXpath =
    "/item/related[@rel=\"department\"]/directory/meta/id[@scope=\"url\"]"

  def isArticle(xml: Column): Column =
    expr_xpath_string(xml, categoryXpath) === "cms-article"

  private def expr_xpath_string(c: Column, path: String): Column =
    call_function("xpath_string", c, lit(path))

  private def expr_xpath(c: Column, path: String): Column =
    call_function("xpath", c, lit(path))

  /** (keys..., department, content) from a raw `xml` string column; rows
    * that are not cms-articles or carry no department are dropped, like
    * the notebook's early returns.
    *
    * Extraction runs through the native single-parse kernel
    * [[graft.expressions.XmlArticle]]: the built-in `xpath`/`xpath_string`
    * expressions RE-PARSE the document once per call (three parses per
    * row here, and predicate pushdown would re-evaluate a struct-valued
    * projection inside the filter too), where the kernel parses once and
    * evaluates the same three compiled XPath expressions against that
    * DOM, emitted as a 0/1-element array so the explode drops
    * non-articles without a re-evaluating filter. [[articlesXpathTwin]]
    * below is the declarative parity twin (spec-pinned in TextSplitSpec).
    */
  def articles(df: DataFrame, xmlCol: String = "xml"): DataFrame = {
    val keep = df.columns.toSeq.filter(_ != xmlCol).map(col)
    df.select(keep :+ explode(
        graft.expressions.XmlArticle.xml_article(col(xmlCol))).as("x__"): _*)
      .withColumn("content",
        Text.datelineStrip(Text.cleanup(col("x__.body"))))
      .withColumn("department", Text.cleanup(col("x__.department")))
      .filter(length(trim(col("department"))) > 0)
      .drop("x__")
  }

  /** PARITY TWIN of [[articles]] (built-in xpath chain, one re-parse per
    * xpath call) — edit kernel and twin together; the randomized spec
    * pins them equal, and the nested-dateline/entity quirks documented
    * above are asserted against BOTH paths.
    */
  private[graft] def articlesXpathTwin(df: DataFrame, xmlCol: String = "xml"): DataFrame =
    df.filter(isArticle(col(xmlCol)))
      .withColumn("content",
        Text.datelineStrip(Text.cleanup(
          array_join(expr_xpath(col(xmlCol), bodyTextXpath), " "))))
      .withColumn("department",
        Text.cleanup(expr_xpath_string(col(xmlCol), departmentXpath)))
      .filter(length(trim(col("department"))) > 0)
      .drop(xmlCol)

  /** fasttext serialization `__label__<dept> <text>` (notebook cell 7).
    * `keyCols` ride along for provenance / a total output order (the
    * notebook writes bare lines; the driver gate needs a unique sort key).
    */
  def fasttextLine(df: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    df.select(keyCols.map(col) :+ concat(lit("__label__"),
      trim(col("department")), lit(" "), trim(col("content"))).as("line"): _*)

  // ---- deterministic fixture synthesis (driver-gate oracle support) -------
  // The driver corpus has no XML table, so the s5_xml gate synthesizes
  // reference-shaped article XML from `documents` IN the query and lets
  // [[articles]] extract it back; the DuckDB oracle predicts the extraction
  // from the same synthesis arithmetic (the mm_pixels trick). The XML layer
  // is therefore genuinely exercised: category filter, department xpath,
  // bodytext text() collection with location/em exclusion, and entity
  // escaping all run through the real parser on the Spark side.

  /** XML 1.0 forbids C0 control chars except TAB/LF/CR — strip them before
    * embedding corpus text in a document. CR is additionally normalized to
    * LF (`\r\n`/`\r` → `\n`) because every conforming XML parser performs
    * exactly that line-ending normalization on parse (XML 1.0 §2.11);
    * doing it in the synthesis step makes it a round-trip no-op, so the
    * SQL twin ([[sanitizeSqlDuck]]) can predict the parsed text exactly.
    */
  def sanitizeXmlText(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "\\r\\n|\\r", "\n"),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")

  def sanitizeSqlDuck(e: String): String =
    s"regexp_replace(regexp_replace($e, '\\r\\n|\\r', chr(10), 'g'), " +
      s"'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')"

  private def xmlEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      sanitizeXmlText(c), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** Reference-shaped article XML: every 7th doc is a non-article category
    * (dropped by [[isArticle]]), every 5th carries an empty department
    * (dropped by the department filter); the bodytext paragraph carries a
    * `<location>`/`<em class="source">` dateline pair the extraction must
    * EXCLUDE, plus the (escaped) document text the parser un-escapes back.
    */
  def syntheticArticleXml(docId: Column, lang: Column, text: Column): Column = {
    val cat = when(docId % 7 === 0, "newsletter").otherwise("cms-article")
    val dept = when(docId % 5 === 0, lit("")).otherwise(concat(lit("dept-"), lang))
    concat(
      lit("<item><category scope=\""), cat, lit("\"/>"),
      lit("<corpus><p class=\"bodytext\">"),
      lit("<location>Berlin</location><em class=\"source\">(Agentur)</em>"),
      xmlEscape(text),
      lit("</p></corpus>"),
      lit("<related rel=\"department\"><directory><meta>"),
      lit("<id scope=\"url\">"), dept, lit("</id>"),
      lit("</meta></directory></related></item>"))
  }
}
