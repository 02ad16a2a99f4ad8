package graft.tools

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Main, SparkEntry}

/** The one timing main for registry queries, outside the frozen driver
  * contract. Per query: one warm-up, then 3 timed reps under the NOOP sink
  * — which computes every column of every row and keeps the query's full
  * plan (including the final total-order sort and its range-partitioner
  * sampling pass) — and 3 under the `count()` action the frozen
  * [[graft.Bench]] harness uses, whose optimized plan may LEGALLY drop the
  * sort (EliminateSorts under an aggregate) and with it the sampling pass.
  * It also prints whether each action's executed plan keeps a range
  * exchange, which separates "the computation" from "the sink + ordering".
  *
  * The session is [[Main.sessionConf]]'s (`SPARK_GRAFT_CPUS` cores, 32 when
  * unset) with Spark scratch on `/dev/shm`.
  *
  * Usage: sbt "runMain graft.tools.Measure <sfDir> <query> [query...]"
  */
object Measure {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.tools.Measure <sfDir> <query...>")
    val sfDir = args.head
    val spark = SparkSession.builder()
      .config(Main.sessionConf(new SparkConf(), sys.env)
        .set("spark.local.dir", "/dev/shm/graft-spark"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    args.tail.foreach { name =>
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
    spark.stop()
  }
}
