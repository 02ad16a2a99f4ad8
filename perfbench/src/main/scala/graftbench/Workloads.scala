package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main, SparkEntry}
import graft.pipeline.{KgPipeline, Manifest}
import graft.sources.Tables
import graft.streaming.EventStream

/** One benchmark workload: a closed loop of iterations through public
  * entry points, each followed by an untimed output check.
  */
abstract class Workload {
  /** Everything between session start and the first timed iteration. */
  def prepare(spark: SparkSession): Unit
  /** One iteration. Returns named wall times; the first is the
    * iteration's wall.
    */
  def iterate(spark: SparkSession, i: Int): Seq[(String, Double)]
  /** A traced iteration, one span per layer call. Its first wall times
    * the same work as the first wall of [[iterate]].
    */
  def tracedIterate(spark: SparkSession, i: Int, span: Spans): Seq[(String, Double)]
  /** Untimed check of iteration i right after it ran. */
  def check(spark: SparkSession, i: Int): Boolean
  /** Checks against reference results, run once after the loop: the
    * indices of the iterations that failed them.
    */
  def verify(spark: SparkSession): Set[Int]
  /** Derived detail metrics, given the median of each named wall. */
  def summary(p50: Map[String, Double]): Seq[(String, Any)]
  /** Outputs handed to run.py for the checks it makes itself. */
  def dumps: Seq[(String, Any)] = Nil
}

/** `resume`: set-up builds the warehouse with `Main.run --canon` (cold:
  * every stage computes and commits) and resumes it once, untimed. Each
  * iteration runs `Main.run` again on the same input, which resumes: every
  * manifest is fresh, so it is the fingerprint pass, the five manifest
  * reads and the triples read-back count. A traced iteration rebuilds the
  * warehouse from empty with `Main.run` re-composed from its public calls,
  * then resumes it, both under spans.
  */
final class Resume(docs: String, wh: String) extends Workload {
  private var nDocs = 0L
  private var buildS = 0.0
  private var expected = -1L
  private var manifests = Seq.empty[Option[String]]
  private val counts = mutable.Map[Int, Long]()
  private val tracedIters = mutable.Set[Int]()
  private var buildDigest = ""
  private var tracedDigest = ""

  private def readManifests(spark: SparkSession) =
    Harness.stages.map(Manifest.readManifest(spark, wh, _))

  private def wipe(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))

  def prepare(spark: SparkSession): Unit = {
    wipe()
    nDocs = Tables.docsDf(spark, docs).count()
    val (s, n) = Harness.timed(Main.run(spark, docs, wh, canon = true))
    buildS = s
    expected = n
    manifests = readManifests(spark)
    // the untimed warm-up: the build never took the fresh-manifest path
    Main.run(spark, docs, wh, canon = true)
  }

  def iterate(spark: SparkSession, i: Int): Seq[(String, Double)] = {
    val (s, n) = Harness.timed(Main.run(spark, docs, wh, canon = true))
    counts(i) = n
    Seq("resume" -> s)
  }

  def tracedIterate(spark: SparkSession, i: Int, span: Spans): Seq[(String, Double)] = {
    tracedIters += i
    wipe()
    val (b, _) = Harness.timed(build(spark, span, resume = false))
    val (r, n) = Harness.timed(build(spark, span, resume = true))
    counts(i) = n
    Seq("resume" -> r, "traced_build" -> b)
  }

  /** `Main.run` re-composed from its public calls, one span per call. On
    * a resume pass everything before the final count is `resume.read`.
    */
  private def build(spark: SparkSession, span: Spans, resume: Boolean): Long = {
    def sp[A](name: String)(body: => A): A =
      span(if (resume) "resume.read" else name)(body)
    val (input, fp) = sp("fingerprint") {
      val d = Tables.docsDf(spark, docs)
      (d, Main.corpusFingerprint(d))
    }
    val part = Seq("repo", "lang")
    val docsC = sp("stage.docs")(Manifest.runStage(spark, wh, "docs", part, fp)(input))
    val mentions = sp("stage.mentions")(
      Manifest.runStage(spark, wh, "mentions", part, fp) {
        KgPipeline.sentenceMentions(docsC) })
    val links = sp("stage.links")(Manifest.runStage(spark, wh, "links", part, fp) {
      KgPipeline.links(spark, mentions) })
    sp("stage.canon_map")(Manifest.runStage(spark, wh, "canon_map", Seq.empty, fp) {
      KgPipeline.canonMap(spark, links) })
    val triples = sp("stage.triples")(Manifest.runStage(spark, wh, "triples", part, fp) {
      val cm = spark.read.parquet(s"$wh/canon_map")
      links.join(broadcast(cm), Seq("entity_id"), "left")
        .withColumn("obj", coalesce(col("canon_id"), col("entity_id")))
        .select("repo", "path", "commit", "lang", "label", "obj")
        .distinct()
        .select(
          concat_ws("@", concat_ws("/", col("repo"), col("path")), col("commit"))
            .as("subj"),
          concat(lit("mentions:"), col("label")).as("pred"),
          col("obj"), col("repo"), col("lang"))
    })
    if (resume) span("resume.count")(triples.count())
    else sp("stage.triples")(triples.count())
  }

  private def committedDigest(spark: SparkSession): String =
    Harness.digest(spark.read.parquet(s"$wh/triples")
      .select("subj", "pred", "obj", "repo", "lang"))

  /** The resume returned the build's triple count and every manifest is
    * byte-identical to the one the set-up build committed (a traced
    * rebuild must commit the same manifests as `Main.run`).
    */
  def check(spark: SparkSession, i: Int): Boolean = {
    if (tracedIters(i)) tracedDigest = committedDigest(spark)
    else if (buildDigest.isEmpty) buildDigest = committedDigest(spark)
    counts.get(i).contains(expected) && readManifests(spark) == manifests
  }

  /** The committed triples equal `KgPipeline.triples(canonicalize = true,
    * sentenceLevel = true)` over the same input as multisets (also after a
    * traced rebuild), and every stage's manifest row total equals its
    * committed rows. A failure fails every iteration.
    */
  def verify(spark: SparkSession): Set[Int] = {
    val want = Harness.digest(KgPipeline.triples(spark, Tables.docsDf(spark, docs),
      canonicalize = true, sentenceLevel = true)
      .select("subj", "pred", "obj", "repo", "lang"))
    val rowsAgree = Harness.stages.forall { st =>
      Manifest.readManifest(spark, wh, st)
        .flatMap(m => "\"rows\":(\\d+)".r.findFirstMatchIn(m))
        .map(_.group(1).toLong)
        .contains(spark.read.parquet(s"$wh/$st").count())
    }
    val ok = buildDigest == want && rowsAgree &&
      (tracedDigest.isEmpty || tracedDigest == want)
    if (ok) Set() else counts.keySet.toSet
  }

  def summary(p50: Map[String, Double]): Seq[(String, Any)] = {
    def parquetBytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(parquetBytes).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    Seq("docs" -> nDocs, "committed_triples" -> expected,
      "setup_build_s" -> buildS,
      "stored_bytes_per_input_byte" ->
        parquetBytes(new java.io.File(wh)).toDouble / parquetBytes(new java.io.File(docs))) ++
      p50.get("resume").map(s => "triples_read_per_s" -> expected / s) ++
      (if (tracedDigest.isEmpty) Nil
       else Seq("trace.digest_match" -> (if (tracedDigest == buildDigest) 1 else 0)))
  }
}

/** `stream`: each iteration runs the two daily state-store replays of the
  * events table (`stream_horizon`, `stream_dedup_horizon` from
  * `SparkEntry.queries`) and replays the docs through the foreachBatch KG
  * sink (`EventStream.replayKgBatches`, one micro-batch per doc_id % k).
  * Set-up runs one untimed warm-up iteration, whose state-replay rows are
  * the ones run.py compares with DuckDB.
  */
final class Streams(docsDir: String, events: String) extends Workload {
  val stateQueries = Seq("stream_horizon", "stream_dedup_horizon")
  /** Micro-batches of the KG replay. */
  val kgBatches = 2
  private val stateRows = mutable.Map[Int, Seq[String]]()
  private val kgOut = mutable.Map[Int, DataFrame]()
  private val kgDigests = mutable.Map[Int, String]()
  private var nEvents = 0L
  private var nTriples = 0L

  private def docs(spark: SparkSession): DataFrame =
    Tables.docsDfWithId(spark, docsDir).withColumn("b", col("doc_id") % kgBatches)

  def prepare(spark: SparkSession): Unit = {
    nEvents = Tables.events(spark, events).count()
    iterate(spark, -1)
    kgOut.remove(-1)
  }

  private def run(spark: SparkSession, i: Int,
      wrap: (String, () => Any) => Any): Seq[(String, Double)] = {
    val state = stateQueries.map { q =>
      Harness.timed(wrap(q, () =>
        Harness.rowsText(SparkEntry.queries(q)(spark, events).collect().toSeq)))
    }
    stateRows(i) = state.map(_._2.asInstanceOf[String])
    val (kgS, kg) = Harness.timed(wrap("stream_kg", () =>
      EventStream.replayKgBatches(spark, docs(spark), "b")))
    kgOut(i) = kg.asInstanceOf[DataFrame]
    val stateS = state.map(_._1).sum
    Seq("stream" -> (stateS + kgS), "state_replays" -> stateS, "kg_replay" -> kgS)
  }

  def iterate(spark: SparkSession, i: Int): Seq[(String, Double)] =
    run(spark, i, (_, b) => b())

  def tracedIterate(spark: SparkSession, i: Int, span: Spans): Seq[(String, Double)] =
    run(spark, i, (q, b) => span("stream." + q.stripPrefix("stream_"))(b()))

  /** The state replays return the warm-up's rows; the KG replay's output
    * is digested for [[verify]].
    */
  def check(spark: SparkSession, i: Int): Boolean = {
    val out = kgOut.remove(i).get
    kgDigests(i) = Harness.digest(out)
    if (nTriples == 0) nTriples = out.count()
    stateRows.get(i) == stateRows.get(-1)
  }

  /** Each micro-batch's triples equal the batch pipeline over its slice. */
  def verify(spark: SparkSession): Set[Int] = {
    val d = docs(spark)
    val expected = Harness.digest((0 until kgBatches).map { b =>
      KgPipeline.triples(spark, d.filter(col("b") === b).drop("b", "doc_id"))
        .withColumn("batch_id", lit(b.toLong))
    }.reduce(_ unionByName _))
    kgDigests.collect { case (i, got) if got != expected => i }.toSet
  }

  def summary(p50: Map[String, Double]): Seq[(String, Any)] =
    Seq("events" -> nEvents, "kg_triples" -> nTriples) ++
      p50.get("state_replays").map(s => "events_per_s" -> nEvents / s) ++
      p50.get("kg_replay").map(s => "triples_per_s" -> nTriples / s)

  override def dumps: Seq[(String, Any)] =
    stateQueries.zip(stateRows.getOrElse(-1, Nil)).flatMap { case (q, rows) =>
      Seq(s"rows.$q" -> rows, s"oracle.$q" -> SparkEntry.oracleSql(q))
    }
}
