package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

/** Randomized twin gate for the two streaming daily-replay gates (the
  * XmlFuzz pattern): generate random (user, day, value, ts) shapes, run
  * the REAL replays (`replayDailyHorizon`, `replayDailyDedup`) and compare
  * against direct Scala implementations of the twins' probed arithmetic.
  * The fixture gates exercise the fixture's shape; this exercises the
  * shapes it never hits — single-key streams, all-dup days, multi-day
  * gaps, chained evictions — under the same pinned semantics:
  *
  *  - horizon (flatMapGroupsWithState): watermark before day d =
  *    floor-ms max event time of prior days − delay; eviction on STRICT
  *    `wm > lastMaxTs + horizon`; evicted key restarts; last update-mode
  *    emission per key wins.
  *  - dedup (dropDuplicatesWithinWatermark): expiry = emitted ts +
  *    horizon; eviction on `wm >= expiry` (EQUALITY evicts); duplicates
  *    do not extend; emits are append-mode first-arrivals.
  *
  * Watermark monotonicity makes the per-arrival check sufficient: state
  * evicted between two of a key's days iff the LATER day's watermark
  * clears the bound, so the twins check only at arrivals.
  *
  * Usage: `runMain graft.tools.HorizonFuzz [iters] [seed]`. Exits 1 on
  * any mismatch, printing the seed and the offending event set.
  */
object HorizonFuzz {
  private val dayMs = 86400000L
  private val day0 = 1704067200000L // 2024-01-01T00:00:00Z

  /** Per-day strict-prefix max of event times — the watermark driver both
    * twins share (wm before day d = prefixDayMax(d) − delay/horizon). One
    * copy: the watermark derivation is the piece an edit to the probed
    * semantics would touch, and two copies could silently diverge.
    */
  private def prefixDayMax(tsMs: Seq[Long]): Map[Long, Long] = {
    val dayMax = tsMs.groupBy(_ / dayMs).map { case (d, ts) => d -> ts.max }
    val days = dayMax.keys.toSeq.sorted
    days.zipWithIndex.map { case (d, i) =>
      d -> (if (i == 0) Long.MinValue / 4 else days.take(i).map(dayMax).max)
    }.toMap
  }

  /** Scala twin of the stream_horizon DuckDB arithmetic over raw events
    * (uid, intValue, tsMs): last emitted (n, total) per uid.
    */
  def horizonTwin(evs: Seq[(Long, Double, Long)], horizonMs: Long,
      delayMs: Long): Set[(Long, Long, Long)] = {
    val prefMax = prefixDayMax(evs.map(_._3))
    evs.groupBy(_._1).map { case (uid, es) =>
      var n = 0L; var sum = 0.0; var maxTs = Long.MinValue; var live = false
      es.groupBy(_._3 / dayMs).toSeq.sortBy(_._1).foreach { case (d, dayEs) =>
        val wm = prefMax(d) - delayMs
        if (live && wm > maxTs + horizonMs) { n = 0; sum = 0.0; maxTs = Long.MinValue }
        live = true
        n += dayEs.length
        sum += dayEs.map(_._2).sum
        maxTs = math.max(maxTs, dayEs.map(_._3).max)
      }
      (uid, n, sum.toLong)
    }.toSet
  }

  /** Scala twin of the stream_dedup_horizon DuckDB walk over the gate's
    * feed shape (uid, per-day min tsMs): every emitted (uid, tMs).
    */
  def dedupTwin(byDay: Seq[(Long, Long)], horizonMs: Long): Seq[(Long, Long)] = {
    val prefMax = prefixDayMax(byDay.map(_._2))
    byDay.groupBy(_._1).toSeq.flatMap { case (uid, es) =>
      var le = Long.MinValue; var first = true
      es.sortBy(_._2).flatMap { case (_, t) =>
        val wm = prefMax(t / dayMs) - horizonMs
        if (first || wm >= le + horizonMs) { first = false; le = t; Some((uid, t)) }
        else None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(20)
    val seed = args.drop(1).headOption.map(_.toLong).getOrElse(42L)
    val spark = Measure.session()
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    var failures = 0
    for (it <- 1 to iters) {
      val nU = 1 + rnd.nextInt(6)
      val nD = 2 + rnd.nextInt(7)
      val evs: Seq[(Long, Double, Long)] = for {
        u <- 1 to nU
        d <- 0 until nD
        if rnd.nextDouble() < 0.55
        _ <- 0 until (1 + rnd.nextInt(3))
      } yield (u.toLong, (1 + rnd.nextInt(20)).toDouble,
        day0 + d * dayMs + rnd.nextInt(dayMs.toInt).toLong)
      if (evs.nonEmpty) {
        val df = evs.toDF("user_id", "value", "tms")
          .select(col("user_id"), col("value"),
            timestamp_millis(col("tms")).as("ts"))
        val got = EventStream.replayDailyHorizon(spark, df)
          .as[(Long, Long, Long)].collect().toSet
        val want = horizonTwin(evs, EventStream.gateHorizonMs,
          EventStream.gateDelayMs)
        if (got != want) {
          failures += 1
          println(s"[fuzz] iter $it seed $seed HORIZON MISMATCH\n  events=$evs\n  got=$got\n  want=$want")
        }
        // the dedup gate's feed shape: per (uid, day) min ts, fed twice
        // byte-identically (SparkEntry stream_dedup_horizon)
        val byDay = evs.groupBy(e => (e._1, e._3 / dayMs))
          .map { case ((u, _), es) => (u, es.map(_._3).min) }.toSeq
        val dfd = byDay.flatMap(x => Seq(x, x)).toDF("user_id", "tms")
          .select(col("user_id"), col("user_id").cast("string").as("text"),
            timestamp_millis(col("tms")).as("ts"))
        val gotD = EventStream.replayDailyDedup(spark, dfd)
          .as[(Long, Long)].collect().toSeq.sorted
        val wantD = dedupTwin(byDay, EventStream.gateDedupHorizonMs).sorted
        if (gotD != wantD) {
          failures += 1
          println(s"[fuzz] iter $it seed $seed DEDUP MISMATCH\n  byDay=$byDay\n  got=$gotD\n  want=$wantD")
        }
      }
      if (it % 5 == 0) println(s"[fuzz] $it/$iters done, $failures failures")
    }
    println(s"[fuzz] $iters iterations, $failures failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
