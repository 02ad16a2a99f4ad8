package graft.tools

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Main, SparkEntry}

/** The one measurement main for registry queries and the CC loop, outside
  * the frozen driver contract. One mode per run:
  *
  *  - `time <sfDir> <query...>`: per query, one warm-up, then 3 timed reps
  *    under the NOOP sink — which computes every column of every row and
  *    keeps the query's full plan (including the final total-order sort
  *    and its range-partitioner sampling pass) — and 3 under the `count()`
  *    action the frozen [[graft.Bench]] harness uses, whose optimized plan
  *    may LEGALLY drop the sort (EliminateSorts under an aggregate) and
  *    with it the sampling pass. It also prints whether each action's
  *    executed plan keeps a range exchange, which separates "the
  *    computation" from "the sink + ordering".
  *  - `plans <sfDir> <query...>`: each query's formatted physical plan
  *    (pushdown, pruning, codegen spans, shuffle count).
  *  - `audit <sfDir>`: one plan-health line per registered query (PLANS.md
  *    records the audited snapshot with commentary).
  *  - `cc [edgesTarget] [groupSize] [chain|star]`: [[CcScale.run]], the
  *    distributed CC loop on a synthesized graph above the driver guard
  *    (defaults 6,000,000 / 2048 / chain).
  *
  * Every mode runs on [[session]]; `SPARK_GRAFT_CPUS` sets the cores and
  * shuffle partitions (32 when unset).
  *
  * Usage: sbt "runMain graft.tools.Measure <mode> <args...>"
  */
object Measure {
  val usage = "usage: graft.tools.Measure time <sfDir> <query...> | " +
    "plans <sfDir> <query...> | audit <sfDir> | " +
    "cc [edgesTarget] [groupSize] [chain|star]"

  sealed trait Mode
  final case class Time(sfDir: String, queries: Seq[String]) extends Mode
  final case class Plans(sfDir: String, queries: Seq[String]) extends Mode
  final case class Audit(sfDir: String) extends Mode
  final case class Cc(edgesTarget: Long, groupSize: Long, shape: String)
      extends Mode

  private val ccDefaults = Seq("6000000", "2048", "chain")

  /** One [[Mode]] from the command line. Anything else fails with
    * [[usage]]: an unknown mode, a missing `sfDir` or a flag in its place,
    * `time`/`plans` without a query, or a `cc` argument that is not a
    * number, a group size under 2 or an unknown shape.
    */
  def parseArgs(args: Seq[String]): Mode = {
    def path(a: String) = !a.startsWith("-")
    def fail = throw new IllegalArgumentException(usage)
    args match {
      case Seq("time", sf, qs @ _*) if path(sf) && qs.nonEmpty => Time(sf, qs)
      case Seq("plans", sf, qs @ _*) if path(sf) && qs.nonEmpty => Plans(sf, qs)
      case Seq("audit", sf) if path(sf) => Audit(sf)
      case Seq("cc", rest @ _*) if rest.size <= ccDefaults.size =>
        val Seq(e, g, shape) = (rest ++ ccDefaults.drop(rest.size)): @unchecked
        (e.toLongOption, g.toLongOption) match {
          case (Some(edges), Some(group))
              if group > 1 && (shape == "chain" || shape == "star") =>
            Cc(edges, group, shape)
          case _ => fail
        }
      case _ => fail
    }
  }

  /** The session of every Spark-using tool main: [[Main.sessionConf]]
    * (AQE on, UTC, `SPARK_GRAFT_CPUS` cores) with Spark scratch on
    * `/dev/shm` and no UI, then `overrides`.
    */
  def session(overrides: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .config(Main.sessionConf(new SparkConf(), sys.env)
        .set("spark.local.dir", "/dev/shm/graft-spark")
        .set("spark.ui.enabled", "false")
        .setAll(overrides))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = parseArgs(args.toSeq)
    // AQE defers codegen insertion to runtime re-planning, which hides the
    // WholeStageCodegen spans the audit exists to count — audit the static
    // plan (AQE only ever REDUCES the shuffle work shown there)
    val spark = session(mode match {
      case _: Audit => Map("spark.sql.adaptive.enabled" -> "false")
      case _ => Map.empty
    })
    try mode match {
      case Time(sfDir, queries) => timeQueries(spark, sfDir, queries)
      case Plans(sfDir, queries) => queries.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
      case Audit(sfDir) => audit(spark, sfDir)
      case Cc(edgesTarget, groupSize, shape) =>
        CcScale.run(spark, edgesTarget, groupSize, shape)
    } finally spark.stop()
  }

  private def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[String]): Unit = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      def df = fn(spark, sfDir)
      def noop(): Unit =
        df.write.format("noop").mode("overwrite").save()
      // does each ACTION's executed plan keep the total-order range
      // exchange? (count() may drop the sort; the noop write must not).
      // Read after the action has run on the same instance: before it,
      // AQE's executedPlan is the initial plan, not the final one. The
      // full plan runs through its own toRdd, as the noop sink does: a
      // noop write plans a separate QueryExecution and leaves this
      // instance's plan initial.
      def hasRange(d: DataFrame): Boolean =
        d.queryExecution.executedPlan.toString.contains("rangepartitioning")
      val full = df
      full.queryExecution.toRdd.foreach(_ => ())
      val fullPlanRange = hasRange(full)
      val counted = df.groupBy().count()
      counted.collect()
      val countPlanRange = hasRange(counted)
      spark.sparkContext.setJobDescription(s"measure: $name noop")
      noop() // warmup
      val noopTimes = (1 to 3).map(_ => time(noop()))
      spark.sparkContext.setJobDescription(s"measure: $name count")
      df.count() // warmup
      val countTimes = (1 to 3).map(_ => time { df.count(); () })
      spark.sparkContext.setJobDescription(null)
      println(f"[measure] $name noop=${noopTimes.map(t => f"$t%.2f").mkString(",")} " +
        f"count=${countTimes.map(t => f"$t%.2f").mkString(",")} " +
        s"range_in_full_plan=$fullPlanRange range_in_count_plan=$countPlanRange")
    }
  }

  /** Per registered query: shuffle exchange count, broadcast count,
    * whole-stage-codegen span count, and whether the parquet scans carry
    * pushed filters — the numbers a plan review cares about, greppable
    * across rounds. A query that fails to plan prints an `ERROR` line.
    */
  private def audit(spark: SparkSession, sfDir: String): Unit = {
    println(f"${"query"}%-22s ${"shuffle"}%7s ${"bcast"}%5s ${"codegen"}%7s ${"pushed"}%6s  notes")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        def count(p: String): Int = p.r.findAllIn(plan).length
        val rangeEx = count("Exchange rangepartitioning")
        val bcast = count("BroadcastExchange")
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        val pushed = count("PushedFilters: \\[[^\\]]")
        val sorts = count("Exchange SinglePartition")
        val notes = Seq(
          if (rangeEx > 0) s"rangeEx=$rangeEx(final sort)" else "",
          if (sorts > 0) s"singlePart=$sorts" else "",
          if (plan.contains("Bucketed: true")) "bucketed-scan" else "",
          if (plan.contains("MapPartitions") || plan.contains("SerializeFromObject"))
            "typed-stage" else "",
          if (plan.contains("LocalDistinct")) "LocalDistinct" else "",
          if (plan.contains("BatchEvalPython")) "PYTHON-UDF!" else ""
        ).filter(_.nonEmpty).mkString(" ")
        println(f"$name%-22s ${count("Exchange hashpartitioning")}%7d $bcast%5d $codegen%7d $pushed%6d  $notes")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).filter(_.nonEmpty)
            .map(_.linesIterator.next()).getOrElse(e.getClass.getName)
          println(f"$name%-22s ERROR $msg")
      }
    }
  }
}
