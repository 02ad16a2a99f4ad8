package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Main

/** The JVM side of the benchmark: one driver process, one closed-loop
  * client. Set-up runs from driver entry to the first timed iteration:
  * session start plus the workload's preparation, which holds every cold
  * cost (the initial build for `resume`, a warm-up iteration for
  * `stream`). It then runs timed iterations until they have taken
  * `seconds`, and at least [[minIterations]] of them, checks every output
  * outside the timed region, and writes one flat JSON result for run.py.
  *
  * Untraced runs time the public entry points themselves. Traced runs make
  * one untraced iteration and then a traced one, which does the same work
  * with one span per layer call; the tracer is attached only while the
  * traced iteration runs.
  *
  * Usage: Harness <workload> <seconds> <trace 0|1> <cpus> <docs> <events>
  *   <workDir> <resultJson>
  */
object Harness {
  val stages = Seq("docs", "mentions", "links", "canon_map", "triples")
  val spanNames = Seq("fingerprint") ++ stages.map("stage." + _) ++
    Seq("resume.read", "resume.count")
  /** Fewest timed iterations of a run: a `stream` iteration takes longer
    * than `--seconds`, and its median still needs two samples.
    */
  val minIterations = 2

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val Array(name, seconds, trace, cpus, docs, events, work, resultPath) = args
    val out = new Result
    val progress = new Progress
    val spark = session(cpus.toInt, work)
    out.detail("session_s", secs(entry))
    spark.sparkContext.addSparkListener(progress)
    val w: Workload = name match {
      case "resume" => new Resume(docs, s"$work/warehouse")
      case "stream" => new Streams(docs, events)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare(spark)
    out.metric("setup_s", secs(entry), "s")
    BenchBus.drain(spark.sparkContext)
    progress.take()

    if (trace == "1") traced(spark, w, progress, out)
    else untraced(spark, w, seconds.toDouble, progress, out)
    w.dumps.foreach { case (k, v) => out.detail(k, v) }
    spark.stop()
    out.write(resultPath)
  }

  /** The session `Main.main` builds, on `cpus` local cores, with scratch
    * space under the run's work directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------------
  // Timed loops
  // ---------------------------------------------------------------------

  /** Runs one iteration; None when it threw. */
  private def attempt(i: Int)(body: => Seq[(String, Double)]): Option[Seq[(String, Double)]] =
    try Some(body) catch {
      case e: Exception =>
        System.err.println(s"iteration $i failed: $e")
        None
    }

  private def untraced(spark: SparkSession, w: Workload, seconds: Double,
      progress: Progress, out: Result): Unit = {
    val parts = mutable.ArrayBuffer[Seq[(String, Double)]]()
    val latencies = mutable.ArrayBuffer[Double]()
    val failed = mutable.Set[Int]()
    var heapPeak = 0L
    var checkS = 0.0
    var spent = 0.0
    var i = 0
    while (i < minIterations || spent < seconds) {
      val (s, r) = timed(attempt(i)(w.iterate(spark, i)))
      spent += s
      BenchBus.drain(spark.sparkContext)
      latencies ++= progress.take().map(triggerSeconds)
      r match {
        case Some(p) =>
          parts += p
          val (s, ok) = timed(w.check(spark, i))
          checkS += s
          if (!ok) failed += i
        case None => failed += i
      }
      heapPeak = math.max(heapPeak, heapAfterGc())
      i += 1
    }
    val (verifyS, bad) = timed(w.verify(spark))
    failed ++= bad
    out.detail("check_s", checkS)
    out.detail("verify_s", verifyS)
    out.attempted = i
    out.failed = failed.size
    val byName = parts.toSeq.flatten.groupMap(_._1)(_._2)
    val p50 = byName.map { case (k, v) => k -> median(v) }
    val walls = parts.map(_.head._2).toSeq
    out.metric("wall_s_p50", median(walls), "s")
    out.detail("heap_peak_mb", heapPeak / 1048576.0)
    out.detail("wall_s_p25", quantile(walls, 0.25))
    out.detail("wall_s_p75", quantile(walls, 0.75))
    out.detail("wall_samples", walls.size)
    out.detail("walls_s", walls.map(w => f"$w%.4f").mkString(" "))
    byName.keys.toSeq.sorted.foreach(k => out.detail(s"$k.wall_s_p50", p50(k)))
    out.detail("failed_ratio", failed.size.toDouble / i)
    if (latencies.nonEmpty) {
      out.detail("latency_s_p50", median(latencies.toSeq))
      out.detail("latency_samples", latencies.size)
      if (latencies.size >= 100)
        out.detail("latency_s_p90", quantile(latencies.toSeq, 0.9))
    }
    w.summary(p50).foreach { case (k, v) => out.detail(k, v) }
  }

  /** One untraced iteration, then one traced iteration (a traced
    * `resume` iteration rebuilds the warehouse, which costs most of a
    * run's budget). The tracing overhead is the difference of their walls.
    */
  private def traced(spark: SparkSession, w: Workload, progress: Progress,
      out: Result): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val plain = attempt(0)(w.iterate(spark, 0))
    BenchBus.drain(sc)
    progress.take()
    val plainOk = plain.isDefined && w.check(spark, 0)
    sc.addSparkListener(tracer)
    val withTrace = attempt(1)(w.tracedIterate(spark, 1, new Spans(spark, tracer)))
    BenchBus.drain(sc)
    sc.removeSparkListener(tracer)
    layerMetrics(tracer, progress.take()).toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.metric(k, v, unitOf(k))
    }
    val tracedOk = withTrace.isDefined && w.check(spark, 1)
    val bad = w.verify(spark)
    out.attempted = 2
    out.failed = Seq(plainOk && !bad(0), tracedOk && !bad(1)).count(!_)
    out.metric("unattributed.tasks", tracer.unattributedTasks.toDouble, "count")
    out.metric("trace.overhead_s",
      withTrace.zip(plain).map { case (t, u) => t.head._2 - u.head._2 }.getOrElse(0.0), "s")
    if (tracer.stray.nonEmpty)
      out.detail("unattributed", tracer.stray.map { case (k, n) => s"$k=$n" }.mkString("; "))
    plain.foreach(p => out.detail("untraced_wall_s", p.head._2))
    withTrace.foreach(_.foreach { case (k, v) => out.detail(s"traced.$k.wall_s", v) })
    w.summary(Map.empty).foreach { case (k, v) => out.detail(k, v) }
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes") || k.endsWith(".bytes_written")) "bytes"
    else if (k.endsWith("_ratio") || k.endsWith("task_skew")) "ratio"
    else "count"

  /** Every per-layer metric of the traced iteration, 0 where the workload
    * does not reach the layer.
    */
  private def layerMetrics(t: Tracer, prog: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val accs = t.spans.toMap
    val m = mutable.LinkedHashMap[String, Double]()
    spanNames.foreach { s =>
      val a = accs.get(s)
      def v(f: t.Acc => Double) = a.map(f).getOrElse(0.0)
      m(s"$s.wall_s") = v(_.wallS)
      m(s"$s.jobs") = v(_.jobs)
      m(s"$s.tasks") = v(_.tasks)
      m(s"$s.task_cpu_s") = v(_.cpuNs / 1e9)
      m(s"$s.gc_s") = v(_.gcMs / 1e3)
      m(s"$s.shuffle_write_bytes") = v(_.shuffleWrite)
      m(s"$s.shuffle_read_bytes") = v(_.shuffleRead)
      m(s"$s.spill_bytes") = v(_.spill)
      m(s"$s.task_skew") = a.map(t.skew).getOrElse(0.0)
      m(s"$s.rows_out") = v(_.rowsOut)
      m(s"$s.files_written") = v(_.files)
      m(s"$s.bytes_written") = v(_.bytesWritten)
    }
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    m("links.keep_ratio") = ratio(m("stage.links.rows_out"), m("stage.mentions.rows_out"))
    m("triples.dedup_ratio") = ratio(m("stage.triples.rows_out"), m("stage.links.rows_out"))
    val n = prog.size.toDouble
    def perTrigger(f: StreamingQueryProgress => Double) =
      if (n == 0) 0.0 else prog.map(f).sum / n
    Seq("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets").foreach { ph =>
      m(s"trigger.${ph}_ms") = perTrigger(p =>
        Option(p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0))
    }
    m("state.commit_ms") = perTrigger(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
    m("state.update_ms") = perTrigger(_.stateOperators.map(_.allUpdatesTimeMs.toDouble).sum)
    m("state.removal_ms") = perTrigger(_.stateOperators.map(_.allRemovalsTimeMs.toDouble).sum)
    m("state.rows_total") =
      (0.0 +: prog.map(_.stateOperators.map(_.numRowsTotal.toDouble).sum)).max
    m("state.memory_bytes") =
      (0.0 +: prog.map(_.stateOperators.map(_.memoryUsedBytes.toDouble).sum)).max
    m("triggers") = n
    m("sink.files_written") = accs.get("stream.kg").map(_.files.toDouble).getOrElse(0.0)
    m.toMap
  }

  // ---------------------------------------------------------------------
  // Helpers
  // ---------------------------------------------------------------------

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `body`, and its result. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    (secs(t0), r)
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))

  /** Old-generation occupancy right after a full collection. */
  def heapAfterGc(): Long = {
    System.gc()
    oldGen.map(_.getCollectionUsage.getUsed).getOrElse(0L)
  }

  private def triggerSeconds(p: StreamingQueryProgress): Double =
    Option(p.durationMs.get("triggerExecution")).map(_.doubleValue / 1e3).getOrElse(0.0)

  /** Order-independent multiset digest of a relation's rows, built on the
    * engine's own corpus fingerprint (exact decimal sums of row hashes).
    */
  def digest(df: DataFrame): String =
    Main.corpusFingerprint(df.select(concat_ws("\u001f",
      df.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      .as("content")))

  /** Rows as sorted `|`-joined lines (the form run.py compares). */
  def rowsText(rows: Seq[Row]): String =
    rows.map(_.toSeq.mkString("|")).sorted.mkString("\n")
}

/** Span scope of a traced iteration: job group, tracer attribution and
  * wall time (summed when a span repeats within the iteration).
  */
final class Spans(spark: SparkSession, tracer: Tracer) {
  def apply[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    tracer.open(name)
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body finally {
      val wall = Harness.secs(t0)
      sc.clearJobGroup()
      BenchBus.drain(sc)
      tracer.close(wall)
    }
  }
}

/** Flat JSON result: the metrics named in BENCHMARK.json plus a detail map. */
final class Result {
  var attempted = 0
  var failed = 0
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val details = mutable.LinkedHashMap[String, Any]()
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def detail(name: String, v: Any): Unit = details(name) = v

  private def js(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n @ (_: Double | _: Int | _: Long) => n.toString
    case other => graft.JsonUtil.str(other.toString)
  }

  def write(path: String): Unit = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${js(k)}:{\"value\":${js(v)},\"unit\":${js(u)}}" }.mkString(",")
    val ds = details.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":{$ms},"detail":{$ds}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
