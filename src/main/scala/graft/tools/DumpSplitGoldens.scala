package graft.tools

import java.nio.file.{Files, Paths}

import graft.JsonUtil.str
import graft.operators.{Chunker, Splitter}

/** Dumps (a) a punctuation-rich fixture set with the scalar splitter's and
  * chunker's expected outputs and (b) the generated DuckDB twin SQL, so
  * `tools/check_split_twin.py` can assert the SQL twin reproduces the
  * scalar byte-for-byte on inputs far nastier than the driver corpus
  * (which contains no sentence punctuation at all). This is the local
  * verification harness for the g1_split / g3_chunk / a4_merge oracles.
  */
object DumpSplitGoldens {

  val texts: Seq[String] = Seq(
    // README.md:73-105 transcripts (reference golden behavior)
    "die Kinder von Elisabeth II. haben in Dresden eine Wohnung. In dem Buch \"Traumwerkstadt\" wird die Wohnung beschrieben.",
    "die Kinder von Anton Schwarz haben in Dresden eine Wohnung. In dem Buch Traumwerkstadt wird die Wohnung beschrieben.",
    // abbreviations, roman numerals, quotes, digits
    "Dr. Meier kam an. Nr. 7 war frei. Es war ca. 9 Uhr.",
    "Karl V. regierte lange. II. Akt beginnt. z.B. dieses Beispiel bleibt ganz.",
    "Er sagte: \"Ja.\" Dann ging er. „Zitat am Anfang.“ Ende!",
    // punctuation runs, missing space, lowercase continuation
    "Was?! Wirklich!? ja. kleinbuchstabe folgt. Grossbuchstabe folgt.",
    "kein.split hier. Aber hier schon. ende ohne punkt",
    // soft hyphen (cleanup quirk: becomes double space), tabs, newlines
    "weich­ getrennt. Nächster Satz.\nNeue Zeile\tmit Tab. Ende.",
    // degenerate
    "", " ", "...", "a.", ". .", "x! y! Z! w?",
    "Satz eins.  Doppelleer. Satz zwei.",
    // long no-punct (chunker long path), long with sentences
    Seq.fill(60)("wort").mkString(" "),
    (1 to 12).map(i => s"Satz nummer $i ist hier.").mkString(" "),
    (1 to 12).map(i => s"satz nummer $i bleibt klein.").mkString(" "),
    " " * 250,
    "Elisabeth II. war hier. elisabeth II. blieb dort.") ++ randomTexts

  /** 150 seeded random texts over a vocabulary engineered to hit every
    * boundary rule: abbreviations, roman ordinals, punctuation runs,
    * quotes, digits, umlauts, soft hyphens, tabs, missing spaces.
    */
  def randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(20260816L)
    val words = Seq(
      "Der", "hund", "lief.", "Weit!", "II.", "IV.", "Dr.", "Nr.", "z.B.",
      "\"Zitat\"", "Ende?", "was?!", "Käse.", "über", "9.", "Uhr", "a­b.",
      "x\ty", "„Titel.“", "MCMX.", "...", ".", "kein.split", "GROSS.",
      "«quote»", "'tick'", "1984.", "e.g.", "(klammer).", "a,b.")
    (1 to 150).map { _ =>
      Seq.fill(1 + rnd.nextInt(18))(words(rnd.nextInt(words.length)))
        .mkString(" ")
    }
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/split_goldens.json"
    val maxNoSplit = 200
    def arr(xs: Seq[String]) = xs.map(str).mkString("[", ",", "]")
    val items = texts.map { t =>
      val sents = Splitter.splitScalar(t)
      val chunks =
        if (t.length <= maxNoSplit) Seq(t)
        else Chunker.chunkScalar(Splitter.splitScalar(t), maxNoSplit)
      s"{\"text\": ${str(t)}, \"sentences\": ${arr(sents)}, \"chunks\": ${arr(chunks)}}"
    }
    val splitSql = Splitter.splitSqlDuck(Seq("tid"), "txt", "texts tx")
    val chunkSql = Chunker.chunkSqlDuck(Seq("tid"), "txt", "texts", maxNoSplit)
    val json = s"""{"max_no_split": $maxNoSplit,
      |"split_sql": ${str(splitSql)},
      |"chunk_sql": ${str(chunkSql)},
      |"items": [${items.mkString(",\n")}]}""".stripMargin
    Files.writeString(Paths.get(out), json)
    println(s"[goldens] ${texts.length} fixtures -> $out")
  }
}
