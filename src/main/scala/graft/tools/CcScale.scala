package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Scale evidence for the DISTRIBUTED pointer-doubling CC loop (dev
  * tool). Every driver-gated CC query (`j3_canon`, `dedup_clusters`,
  * `kg_triples`) runs on dictionary-bounded graphs that take `runAuto`'s
  * driver fast path at fixture scale, and `j3_canon_dist` pins the guard
  * to exercise the distributed loop on the SAME small graph — so the one
  * thing no gate measures is the loop on a graph genuinely ABOVE the 2M
  * default guard, the regime a 100 TB corpus' co-occurrence graph
  * actually lives in. This main synthesizes one deterministically
  * (distributively — the graph never touches the driver during
  * generation), lets `runAuto` overflow its probe and fall back to the
  * pointer-doubling loop, checks the full component map against the
  * construction's ground truth, and times the driver union-find on the
  * same edges for comparison.
  *
  * Graph shapes (`numGroups` disjoint components of `groupSize` vertices
  * either way; the ground-truth component of vertex v is exactly
  * `floor(v / groupSize) * groupSize` in both — verified distributively
  * for every vertex, not sampled):
  *  - `chain` (default): in-group chains plus an every-16th-vertex hash
  *    shortcut. Worst case for one-hop propagation — the shape pointer
  *    doubling exists for (O(log groupSize) rounds instead of
  *    O(groupSize)) — but every vertex has O(1) degree, so it exercises
  *    NO skew.
  *  - `star`: every spoke points at its group's minimum vertex (the hub),
  *    degree(hub) = groupSize - 1. With a large groupSize this is the
  *    celebrity-vertex regime: after symmetrization the hub contributes
  *    groupSize rows to the join on `src` AND groupSize rows into the
  *    min-neighbor aggregation on `dst`. Diameter 2, so rounds don't
  *    dominate — per-round skew does.
  *
  * Ids are zero-padded to 10 chars (the `dedup_clusters` convention) so
  * numeric and lexicographic order agree.
  *
  * Usage:
  * `sbt -batch "runMain graft.tools.CcScale [edgesTarget] [groupSize] [shape]"`
  * (defaults 6,000,000 / 2048 / chain); `SPARK_GRAFT_CPUS` sets
  * parallelism.
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val edgesTarget = args.headOption.map(_.toLong).getOrElse(6_000_000L)
    val groupSize = args.drop(1).headOption.map(_.toLong).getOrElse(2048L)
    val shape = args.drop(2).headOption.getOrElse("chain")
    require(groupSize > 1, "groupSize must be >= 2")
    require(shape == "chain" || shape == "star", s"unknown shape '$shape'")
    // chain contributes (groupSize-1) chain + groupSize/16 shortcut edges
    // per group, a star (groupSize-1) spokes; solve for the group count
    // that lands near the target
    val perGroup =
      if (shape == "star") groupSize - 1
      else (groupSize - 1) + groupSize / 16
    val numGroups = math.max(1L, edgesTarget / perGroup)
    val v = numGroups * groupSize
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(c: Column): Column = format_string("%010d", c)
    val base = spark.range(v).toDF("i")
    val raw =
      if (shape == "star") {
        // spoke -> hub (= group minimum); the single high-degree vertex
        // per group is the point of the fixture
        base.filter(col("i") % groupSize =!= 0)
          .select(col("i").as("a"),
            (floor(col("i") / groupSize) * groupSize).as("b"))
      } else {
        val chain = base.filter(col("i") % groupSize =!= (groupSize - 1))
          .select(col("i").as("a"), (col("i") + 1).as("b"))
        // shortcut stays within the group: hash-derived offset mod groupSize
        val shortcuts = base.filter(col("i") % 16 === 0)
          .select(col("i").as("a"),
            (floor(col("i") / groupSize) * groupSize +
              pmod(hash(col("i")), lit(groupSize))).as("b"))
        chain.unionAll(shortcuts)
      }
    val edges = raw.select(fmt(col("a")).as("src"), fmt(col("b")).as("dst"))
    val nEdges = edges.count()
    println(s"[ccscale] cpus=$cpus shape=$shape edges=$nEdges vertices=$v " +
      s"groups=$numGroups groupSize=$groupSize")

    // distributed path via the public entry: the probe overflows the 2M
    // guard and run()'s pointer-doubling loop executes (assert it did).
    require(nEdges > 2_000_000L,
      s"edge count $nEdges under the default guard — the run would take " +
        "the driver path and measure nothing; raise edgesTarget")
    // Listener metrics around the distributed run: jobs / stages / shuffle
    // bytes / summed executor runTime are what ground the loop's perf
    // claims — co-tenant contention can swing wall-clock 2-5× both ways
    // (BENCH.md §29) but cannot fake scheduler and shuffle volumes.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val execRunTime = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        execRunTime.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val comp = ConnectedComponents.runAuto(spark, edges)
    // time the CC computation alone (the loop runs eagerly and the labels
    // are checkpoint-backed, so the result is materialized here) — the
    // ground-truth scan below is verification, not the measured work, and
    // the driver path's timing likewise excludes its verification loop
    val tDist = (System.nanoTime() - t0) / 1e9
    // let the async listener bus drain the CC run's tail events before
    // detaching, so the verification scan below isn't counted.
    // listenerBus.waitUntilEmpty is private[spark], and a FIXED pause can
    // under-wait after a multi-round 20M-edge run (tail stage events still
    // queued would silently vanish from the very metrics this tool
    // publishes) — so poll until the counters stop changing instead.
    locally {
      // 6 consecutive stable polls = 3 s of silence: a 1-2 s GC pause or
      // bus stall must not read as "drained" (the metrics are published
      // evidence; a 20M-edge run can queue events for seconds)
      var settled = 0
      var last = (-1L, -1L, -1L, -1L)
      val deadline = System.nanoTime() + 120_000_000_000L
      while (settled < 6 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val now = (jobs.get, stages.get, shuffleWrite.get, execRunTime.get)
        if (now == last) settled += 1 else { settled = 0; last = now }
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    println(f"[ccscale] listener (CC run only): jobs=${jobs.get} " +
      f"stages=${stages.get} shuffleWriteMB=${shuffleWrite.get / 1048576} " +
      f"execRunTimeS=${execRunTime.get / 1000}")
    val expected = col("id").cast("long")
    val mismatches = comp.filter(
      col("component") =!= fmt(floor(expected / groupSize) * groupSize))
      .count()
    val nComp = comp.select(countDistinct("component")).head().getLong(0)
    println(f"[ccscale] distributed: ${tDist}%.2f s, components=$nComp " +
      f"(expected $numGroups), mismatched vertices=$mismatches (expected 0)")
    require(mismatches == 0 && nComp == numGroups,
      "distributed CC diverged from constructed ground truth")

    // SPARK_GRAFT_CC_SKIP_DRIVER=1 skips the driver union-find comparison:
    // at 20M+ edges the collect alone is a multi-GB driver materialization
    // that adds nothing to the loop's ground-truth verification above
    if (sys.env.get("SPARK_GRAFT_CC_SKIP_DRIVER").contains("1")) {
      spark.stop(); return
    }

    // driver union-find on the same edges, timed from collect through map
    // build — what the guard WOULD do if sized up; memory contract per
    // runAuto's scaladoc (~rows x id-width x 4: ~0.5 GB at 6M short ids)
    val t1 = System.nanoTime()
    val pairs = edges.select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val scalarMap = ConnectedComponents.runScalar(pairs)
    val tDrv = (System.nanoTime() - t1) / 1e9
    val badScalar = scalarMap.iterator.count { case (id, c) =>
      c != f"${id.toLong / groupSize * groupSize}%010d"
    }
    println(f"[ccscale] driver union-find: ${tDrv}%.2f s " +
      f"(collect+build), mismatches=$badScalar (expected 0)")
    require(badScalar == 0, "driver union-find diverged from ground truth")
    spark.stop()
  }
}
