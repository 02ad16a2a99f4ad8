package graft.tools

import java.nio.file.{Files, Paths}

import graft.JsonUtil.str
import graft.functions.Text
import graft.operators.Tagger

/** Dumps fixtures + expected span-true tags (the Java-regex scalar,
  * [[Tagger.tagScalar]], over cleaned text) plus the generated DuckDB span
  * SQL, so `tools/check_span_twin.py` can assert the SQL simulation of the
  * regex scan — candidate positions, \b checks, leftmost-first alternation,
  * non-overlap cursor — reproduces the scalar byte-for-byte on inputs far
  * denser in pattern hits than the driver corpus.
  */
object DumpSpanGoldens {

  /** Vocabulary engineered to hit every pattern and overlap case: "the
    * window" vs "window" (overlap suppression chains), "Elisabeth II." with
    * and without a continuation word (the context-group pattern), quoted
    * vs bare Traumwerkstadt (leftmost-first alternation), word-boundary
    * traps (windowpane, sparkling), punctuation adjacency.
    */
  def randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(424242L)
    val words = Seq(
      "customer", "Anton Schwarz", "Elisabeth II. war", "Elisabeth II.",
      "spark", "hash join", "merge", "stream", "vector", "Dresden",
      "\"Traumwerkstadt\"", "Traumwerkstadt", "the window", "window",
      "table scan", "dup", "windowpane", "sparkling", "x", "und", "9",
      "the window window", "merge,", "(spark)", "dup.", "customer\tdup")
    (1 to 200).map { _ =>
      Seq.fill(1 + rnd.nextInt(14))(words(rnd.nextInt(words.length)))
        .mkString(" ")
    } ++ Seq("", " ", "window", "the window", "the window window window",
      "Elisabeth II. x", "Elisabeth II. X", "Elisabeth II.x")
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/span_goldens.json"
    val items = randomTexts.map { t =>
      val cleaned = Text.cleanupScalar(t)
      val tags = Tagger.tagScalar(cleaned).map(e =>
        s"""[${str(e.label)}, ${str(e.text)}, ${e.begin}, ${e.end}, ${e.confidence}]""")
      s"{\"text\": ${str(t)}, \"tags\": [${tags.mkString(",")}]}"
    }
    val sql = Tagger.tagSpansSqlDuck(Seq("tid"),
      Text.cleanupSqlDuck("txt"), "texts tx")
    val json = s"""{"span_sql": ${str(sql)},
      |"items": [${items.mkString(",\n")}]}""".stripMargin
    Files.writeString(Paths.get(out), json)
    println(s"[goldens] ${randomTexts.length} span fixtures -> $out")
  }
}
