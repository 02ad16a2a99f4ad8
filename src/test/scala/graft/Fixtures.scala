package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.model.Doc

/** Shared test SparkSession (one JVM-wide; suites grab the lazy val). */
object SharedSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

/** Deterministic synthetic corpus per FIXTURES.md §1: seeded sentence soup
  * mixing gazetteer names, abbreviation traps, quoted titles, duplicate
  * sentences across rows, raw newlines / space runs / soft hyphens (P1),
  * and PUA codepoints (P2). No wall-clock, no external data.
  */
object Fixtures {

  val langs = Seq("scala", "java", "py", "md", "txt")

  private val sentencePool: Vector[String] = Vector(
    "Anton Schwarz ist nicht mehr Teil von Dresden.",
    "Die Stadt zeigt das Werk Traumwerkstadt im Museum.",
    "Der Besuch von Elisabeth II. von England war kurz.",
    "Dr. Meier hat am Nr. 7 geparkt.",
    "The customer asked about spark and the window near the table scan.",
    "A merge of the stream and the vector happened fast!",
    "Was ist hier passiert?",
    "Short one.",
    "Duplicate sentence appearing in many documents.",
    "Noise\nwith  newline   and runs of spaces.",
    "Soft­hyphen and private use  char here.",
    "\"Ein Zitat\" beginnt diesen Satz.")

  /** Seeded doc corpus of `n` rows with the input_hint shape. */
  def docs(n: Int, seed: Long = 42L): Seq[Doc] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      // Zipf-ish hot repo: ~half the rows land in repo-000
      val repo = if (rnd.nextDouble() < 0.5) "repo-000"
        else f"repo-${rnd.nextInt(20)}%03d"
      val lang = langs(rnd.nextInt(langs.length))
      val nSent = 2 + rnd.nextInt(6)
      val content = (0 until nSent)
        .map(_ => sentencePool(rnd.nextInt(sentencePool.length)))
        .mkString(" ")
      val path = s"src/dir${rnd.nextInt(5)}/f$i.$lang"
      val commit = graft.functions.Text.sha256HexScalar(s"$repo$path$i").take(40)
      Doc(repo, path, commit, lang, content)
    }
  }

  def docsDf(n: Int, seed: Long = 42L) = {
    val s = SharedSpark.spark
    import s.implicits._
    s.createDataset(docs(n, seed)).toDF()
  }

  /** Runs `body` and returns its result with the call site of every Spark
    * job it started (the result stage's name, e.g. `take at X.scala:12`;
    * empty for a job with no stages), in start order. The listener bus is drained before the listener is
    * attached and again after `body`, so no earlier job is counted and no
    * job of `body` is lost.
    */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
    }
    org.apache.spark.sql.graft.ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.sql.graft.ListenerBusBridge.drain(sc)
      (result, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
