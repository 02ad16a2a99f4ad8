package graft

import org.apache.spark.sql.SparkSession

/** Extra benchmarks OUTSIDE the frozen driver contract (guide §1.4):
  * times named registry queries under the NOOP sink — which computes every
  * column of every row and keeps the query's full plan (including the
  * final total-order sort and its range-partitioner sampling pass) —
  * alongside the `count()` action the frozen [[Bench]] harness uses, whose
  * optimized plan may LEGALLY drop the sort (EliminateSorts under an
  * aggregate) and with it the sampling pass. Printing both, plus whether
  * each action's optimized plan retains a range exchange, separates "the
  * computation" from "the sink + ordering" per guide §1.4 and keeps the
  * frozen harness untouched. Cited in OPTIMIZATION_r08.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.BenchExtra <query> [query...]"
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    args.foreach { name =>
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
      def hasRange(d: org.apache.spark.sql.DataFrame): Boolean =
        d.queryExecution.executedPlan.toString.contains("rangepartitioning")
      val full = df
      full.queryExecution.toRdd.foreach(_ => ())
      val fullPlanRange = hasRange(full)
      val counted = df.groupBy().count()
      counted.collect()
      val countPlanRange = hasRange(counted)
      spark.sparkContext.setJobDescription(s"bench-extra: $name noop")
      noop() // warmup
      val noopTimes = (1 to 3).map(_ => time(noop()))
      spark.sparkContext.setJobDescription(s"bench-extra: $name count")
      df.count() // warmup
      val countTimes = (1 to 3).map(_ => time { df.count(); () })
      spark.sparkContext.setJobDescription(null)
      println(f"[benchx] $name noop=${noopTimes.map(t => f"$t%.2f").mkString(",")} " +
        f"count=${countTimes.map(t => f"$t%.2f").mkString(",")} " +
        s"range_in_full_plan=$fullPlanRange range_in_count_plan=$countPlanRange")
    }
    spark.stop()
  }
}
