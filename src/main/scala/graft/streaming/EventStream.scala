package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming twins. The reference is strictly request/response
  * (SURVEY.md §2 "Streaming": none required), but every engine stage is a
  * `DataFrame => DataFrame`, so the streaming twin is free: `readStream` on
  * the same tables, stateless stages apply unchanged, stateful ones run in
  * `foreachBatch`.
  */
object EventStream {

  /** Watermarked hourly windowed counts over the events stream — the
    * streaming twin of the `stream_hourly` batch query (identical results
    * once the watermark closes).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      // parquet event time infers as TIMESTAMP_NTZ; watermarks need LTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Run the full KG pipeline per micro-batch (`foreachBatch` is where
    * stateful stages — window pick, connected components — legally run in
    * a stream).
    */
  def forEachBatchTriples(spark: SparkSession, docs: DataFrame,
      outDir: String, checkpointDir: String) =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // GLOBAL distinct here, not LocalDistinct: an at-least-once file
        // source can replay the same document into one micro-batch via
        // two files, putting identical doc rows — hence identical triples
        // — in different read partitions, which violates the
        // co-partitioned-duplicates contract the shuffle-free path needs.
        graft.pipeline.KgPipeline.triples(spark, batch,
            assumeUniqueDocs = false)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        ()
      }

  /** Streaming exact dedup — the J1 cache semantics as a stream: state =
    * content keys seen so far (the dropDuplicates state store), output =
    * first occurrence of each key only. State is UNBOUNDED — correct for
    * finite replays/backfills; long-running deployments should use
    * [[dedupDocsWithHorizon]], whose watermark bounds the state like the
    * reference's cache retention bounds its cache file.
    */
  def dedupDocs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("k", graft.functions.Text.sha256Hex(col(textCol)))
      .dropDuplicates("k")

  /** [[dedupDocs]] with a bounded state horizon — the streaming twin of
    * O2's batch retention (the reference keeps its dedup cache to 3M
    * entries on a weekly cron, `ner-clean-cache.sh:9` /
    * `debian/ner-tagger.cron:6`; a content key re-entering after the
    * horizon is recomputed, exactly as a re-emitted duplicate here).
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * event-time watermark passes its timestamp + `horizon`: an in-horizon
    * duplicate is dropped, an expired key re-emits — state size is bounded
    * by the key arrival rate × horizon instead of the stream's lifetime.
    */
  def dedupDocsWithHorizon(docs: DataFrame, tsCol: String = "ts",
      horizon: String = "7 days", textCol: String = "text"): DataFrame =
    docs.withColumn("k", graft.functions.Text.sha256Hex(col(textCol)))
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("k")

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-key state via mapGroupsWithState: running event count and
    * value sum per user (the KeyValueGroupedDataset stateful path). State
    * is UNBOUNDED (one entry per user id ever seen) — correct for finite
    * replays/backfills; long-running deployments should use
    * [[runningPerUserWithHorizon]], whose event-time timeout evicts idle
    * keys the way the reference's cache retention bounds its cache file.
    */
  def runningPerUser(spark: SparkSession, events: DataFrame): Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          state.update((n, v))
          UserRunning(uid, n, v)
      }
  }

  /** Constants of the `stream_horizon` driver gate — single source of truth
    * for [[replayDailyHorizon]]'s Spark run AND the DuckDB twin arithmetic
    * in SparkEntry (change one, both sides move).
    */
  val gateHorizon = "1 day"
  val gateHorizonMs: Long = 86400000L
  val gateDelay = "10 minutes"
  val gateDelayMs: Long = 600000L
  /** floor(value * 2^20) quantization — the `ann_ivf_trained` trick that
    * makes the per-batch double fold order-independent and exact. Shared
    * by the gate's Spark plan AND the DuckDB twin (never hand-edit one).
    */
  val gateQuantScale: Double = 1048576.0

  /** Constants of the `stream_dedup_horizon` driver gate (shared with its
    * DuckDB twin — change one, both sides move). 12 hours splits the
    * fixture roughly half emit / half dedup-drop at every SF (measured:
    * 2137 emits / 1869 drops at sf0.01).
    */
  val gateDedupHorizon = "12 hours"
  val gateDedupHorizonMs: Long = 43200000L

  /** Finite replay of a bounded (user_id, value, ts) relation through
    * [[runningPerUserWithHorizon]] — the `stream_horizon` driver gate: one
    * micro-batch per UTC day in event-time order, so the watermark advances
    * deterministically and EventTimeTimeout evictions fire exactly where
    * the oracle's arithmetic predicts. Returns the LAST emitted totals per
    * user (update mode; an eviction emits nothing, so an evicted-and-
    * re-arrived key shows its restarted session — the semantics the gate
    * exists to pin cross-engine).
    *
    * Probed semantics the twin replicates, each pinned by an
    * AnalysisStreamingSpec "streaming: horizon timeout…"/"horizon
    * watermark…" spec:
    *  - after a data batch advances the watermark, a NO-DATA batch runs and
    *    processes expired timeouts — so a key is evicted BEFORE its next
    *    data batch even when that batch carries its re-arrival;
    *  - a timeout fires on `timeout < watermark` (STRICT; equality
    *    survives);
    *  - the watermark is computed on FLOOR-millisecond event times (micros
    *    truncated — `java.sql.Timestamp.getTime` agrees).
    * Under day buckets fed in order no event is ever behind the watermark
    * (bucket floor > previous buckets' max - delay), so the lateness
    * divergence documented on [[runningPerUserWithHorizon]] never triggers.
    *
    * Driver boundedness: see [[replay]].
    *
    * Cross-engine exactness contract: callers pass an INTEGER-VALUED
    * `value` column (the gate quantizes with floor(value * 2^20) first) —
    * integer-valued double sums are order-independent, so the per-batch
    * iterator order inside flatMapGroupsWithState cannot move the total,
    * and `total_q`'s toLong is exact.
    */
  def replayDailyHorizon(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val emitted = replayDaily[(Long, Double, java.sql.Timestamp)](spark, events,
      Seq(col("user_id").cast("long"), col("value").cast("double"),
        col("ts").cast("timestamp")),
      Seq("user_id", "value", "ts"),
      r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2)),
      OutputMode.Update(),
      (s, df) => runningPerUserWithHorizon(s, df,
        horizon = gateHorizon, watermarkDelay = gateDelay).toDF())
    emitted
      .flatMap { case (bid, rows) =>
        rows.map(r => (bid, r.getLong(0), r.getLong(1), r.getDouble(2))) }
      .groupBy(_._2).values.map(_.maxBy(_._1)).toSeq
      .map(r => (r._2, r._3, r._4.toLong))
      .toDF("user_id", "n_events", "total_q")
  }

  /** Day bucketing of the daily-replay gates: collect a bounded relation
    * bucketed by epoch UTC day — floor(epoch_ms / 86400000), NOT
    * `date_trunc` (which would add a SECOND session-timezone dependence on
    * top of the one below) — then [[replay]] one micro-batch per day in
    * day order (25,000 events per state partition) and return each
    * micro-batch's (batchId, rows).
    *
    * Session-timezone contract: the gates' upstream
    * `col("ts").cast("timestamp")` converts the parquet TIMESTAMP_NTZ
    * column through spark.sql.session.timeZone, so a non-UTC CALLER
    * session still shifts every epoch below it — bucket boundaries,
    * watermarks, evictions — off the DuckDB twins' UTC arithmetic. The
    * gate contract therefore requires a UTC caller session (Verify and
    * Bench both pin it); the floor-ms bucketing cannot remove that
    * dependence, only avoid doubling it.
    */
  private def replayDaily[T: Encoder](
      spark: SparkSession, source: DataFrame,
      valueCols: Seq[Column], colNames: Seq[String],
      toTuple: Row => T, mode: OutputMode,
      query: (SparkSession, DataFrame) => DataFrame): Seq[(Long, Array[Row])] = {
    val bucketed = source
      .select(valueCols :+
        floor(unix_millis(col("ts").cast("timestamp")) / lit(86400000.0))
          .cast("long").as("bucket"): _*)
    val ts = bucketed.schema.fieldIndex("ts")
    // sorted on the driver, where the rows land anyway: a global orderBy
    // would add a range-sampling job and a sort shuffle for the same order
    val buckets = bucketed.collect()
      .groupBy(_.getLong(valueCols.length)).toSeq
      .sortBy(_._1).map(_._2.toSeq
        .sortWith(_.getTimestamp(ts) before _.getTimestamp(ts)).map(toTuple))
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Array[Row])]()
    replay(spark, buckets, colNames, rowsPerPartition = 25000) { (s, df, chk) =>
      query(s, df).writeStream.outputMode(mode)
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted += ((bid, rows)) }; ()
        }
        .start()
    }
    emitted.synchronized { emitted.toSeq }
  }

  /** The one finite-replay harness behind the streaming gates: feeds
    * `batches` through a `MemoryStream` (columns `colNames`), ONE `addData`
    * plus `processAllAvailable` per batch, into the query `start` builds on
    * (replay session, stream, checkpoint dir). A block is atomic, so the
    * continuously-polling trigger cannot split a batch across two
    * micro-batches — several `addData` calls per batch would race the poll
    * loop and shift batchIds intermittently.
    *
    * The replay runs on a CLONED session so the shuffle (and state-store)
    * partition count can be pinned without touching the caller's conf:
    * every micro-batch commits one state delta file per partition and
    * shuffles into every partition, so the session default (32) is
    * ~60 file commits per replayed batch of PURE fixed overhead at fixture
    * scale. The count is ceil(rows / `rowsPerPartition`), capped at the
    * caller's setting — never raised; the gates' results are
    * partition-count-independent. The checkpoint lives on tmpfs when
    * available: /tmp is a virtio disk whose fsync jitter dominates
    * per-micro-batch latency (the reason the bench puts shuffle scratch on
    * /dev/shm). Together 3.4×, BENCH.md §36. The checkpoint is deleted on
    * every path, `start` throwing included.
    *
    * The replay session also writes its `file:` paths (offset and commit
    * logs, state-store deltas, a `foreachBatch` sink's appends) through
    * [[graft.pipeline.NioLocalFileSystem]], and its checkpoint through the
    * `FileSystem`-based checkpoint manager, since the default `FileContext`
    * one never sees `fs.file.impl`. `newHadoopConf` copies the session's
    * keys into every Hadoop conf the query, the state store and the sink
    * build. The stock path forks `/bin/chmod` per file and directory
    * without libhadoop: 118 forks per `stream` benchmark iteration, 0 now
    * (BENCH §53). The manager's rename is check-then-rename, safe for the
    * replay's single writer; `.crc` files and permission bits are the
    * stock ones.
    *
    * Driver boundedness: feeding `MemoryStream` is inherently driver-side,
    * so callers collect fixture-scale relations; production pipelines run
    * the streaming functions themselves on a real source, not this harness.
    */
  private[graft] def replay[T: Encoder](spark: SparkSession,
      batches: Seq[Seq[T]], colNames: Seq[String], rowsPerPartition: Int)(
      start: (SparkSession, DataFrame, String) => StreamingQuery): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val session = spark.newSession()
    val rows = batches.map(_.size).sum
    val parts = math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.max(1, (rows + rowsPerPartition - 1) / rowsPerPartition))
    session.conf.set("spark.sql.shuffle.partitions", parts.toString)
    replayFsConf.foreach { case (k, v) => session.conf.set(k, v) }
    implicit val ctx = session.sqlContext
    val ms = MemoryStream[T]
    val chk = tmpfsDir("replay-chk")
    try {
      val q = start(session, ms.toDF().toDF(colNames: _*), chk.toString)
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
    } finally rmTree(chk)
  }

  /** The conf keys [[replay]] sets on its cloned session only. */
  private[graft] val replayFsConf: Map[String, String] =
    graft.pipeline.NioLocalFileSystem.options +
      ("spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"))

  /** Temp dir on tmpfs when available (see [[replay]]). */
  private def tmpfsDir(prefix: String): java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      java.nio.file.Files.createTempDirectory(shm.toPath, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Best-effort recursive delete of a replay temp dir. */
  private def rmTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(p.toFile)
  }

  /** Finite replay of a bounded (user_id, text, ts) relation through
    * [[dedupDocsWithHorizon]] — the `stream_dedup_horizon` driver gate:
    * one micro-batch per UTC day in event-time order, returning every
    * EMITTED row as (user_id, t_ms). An in-horizon duplicate is dropped;
    * a key whose state the watermark evicted re-emits — the bounded-state
    * dedup semantics the gate pins cross-engine.
    *
    * Probed semantics the twin replicates, each pinned by an
    * AnalysisStreamingSpec "streaming: dedup horizon…" spec:
    *  - state expiry is (event time + watermark delay), NOT bare ts;
    *  - eviction fires on watermark >= expiry (EQUALITY evicts — the
    *    OPPOSITE polarity of flatMapGroupsWithState's strict timeout <
    *    watermark, probed in dprobe3 vs probe2);
    *  - an in-horizon duplicate does NOT extend the stored expiry;
    *  - eviction happens in the no-data batch after a watermark advance,
    *    so a key re-arriving in the very next data batch re-emits.
    *
    * Determinism contract: callers feed rows whose ts is EXACT
    * milliseconds and identical across a key's rows within one day (the
    * gate feeds per-key-day min-ts duplicates), so which duplicate the
    * engine emits is unobservable. The ms-exact clause is LOAD-BEARING
    * for the twin, not just hygiene: the dedup state stores the event
    * time at MICROSECOND precision (probed, dprobe6 — unlike the
    * flatMapGroupsWithState state's Timestamp.getTime floor), so a
    * micros-carrying feed would hold sub-ms expiries the twin's epoch_ms
    * arithmetic cannot see. Driver boundedness: see [[replay]].
    */
  def replayDailyDedup(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    replayDaily[(Long, String, java.sql.Timestamp)](spark, docs,
      Seq(col("user_id").cast("long"), col("text").cast("string"),
        col("ts").cast("timestamp")),
      Seq("user_id", "text", "ts"),
      r => (r.getLong(0), r.getString(1), r.getTimestamp(2)),
      OutputMode.Append(),
      (_, df) => dedupDocsWithHorizon(df, tsCol = "ts",
        horizon = gateDedupHorizon, textCol = "text")
        .select(col("user_id"), col("ts")))
      .flatMap(_._2.map(r => (r.getLong(0), r.getTimestamp(1).getTime)))
      .toDF("user_id", "t_ms")
  }

  /** What [[forEachBatchTriples]] appends: the triples plus `batch_id`. */
  private val kgReplaySchema = org.apache.spark.sql.types.StructType.fromDDL(
    "subj STRING, pred STRING, obj STRING, repo STRING, lang STRING, batch_id BIGINT")

  /** Finite replay of a bounded Doc relation through
    * [[forEachBatchTriples]] — the `stream_kg` driver gate: the corpus
    * arrives over micro-batches keyed by `batchCol` (groups fed in
    * ascending key order, one micro-batch per group, so foreachBatch's
    * batchId equals the group's feed position), the REAL foreachBatch
    * sink runs the full KG pipeline per batch and appends triples +
    * batch_id to parquet, and the result is read back and MATERIALIZED
    * before the temp dirs are deleted. Docs are row-atomic through the
    * non-canonical pipeline (no cross-doc state), so each batch's triples
    * are exactly the batch pipeline over its doc slice — the property the
    * DuckDB twin predicts slice by slice.
    *
    * [[replay]] runs it with ~250 docs per shuffle partition (doc rows
    * carry full document text where the daily replays' events carry
    * scalars; each batch's global distinct at fixture scale otherwise
    * commits 32 near-empty shuffle partitions).
    */
  def replayKgBatches(spark: SparkSession, docs: DataFrame,
      batchCol: String): DataFrame = {
    import spark.implicits._
    val rows = docs
      .select(col(batchCol).cast("long").as("b"), col("repo"), col("path"),
        col("commit"), col("lang"), col("content"))
      .collect()
    // an all-empty feed would pass the 0..n-1 key check vacuously, write
    // no part files, and surface as an obscure parquet schema-inference
    // error on the read-back below — fail with the actual cause instead
    require(rows.nonEmpty, "replayKgBatches: empty docs feed")
    val keyed = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    // batchId == key REQUIRES the keys to be exactly 0..n-1: foreachBatch
    // numbers batches by feed position, so a missing residue class would
    // silently shift every later batch_id off the twin's slice labels —
    // fail loudly instead (the doc_id % k feed satisfies this at every SF)
    require(keyed.map(_._1) == (0L until keyed.length.toLong),
      s"replayKgBatches: $batchCol keys must be exactly 0..n-1, " +
        s"got ${keyed.map(_._1).mkString(",")}")
    val groups = keyed.map(_._2.toSeq
      .map(r => (r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5))))
    val out = tmpfsDir("kg-replay-out")
    try {
      replay(spark, groups, Seq("repo", "path", "commit", "lang", "content"),
          rowsPerPartition = 250) { (s, df, chk) =>
        forEachBatchTriples(s, df, out.toString, chk).start()
      }
      // materialize before the tmpfs output dir is deleted below; the
      // declared schema spares a footer-reading inference job
      spark.read.schema(kgReplaySchema).parquet(out.toString)
        .as[(String, String, String, String, String, Long)].collect().toSeq
        .toDF("subj", "pred", "obj", "repo", "lang", "batch_id")
    } finally rmTree(out)
  }

  /** [[runningPerUser]] with a bounded state horizon — the
    * mapGroupsWithState twin of [[dedupDocsWithHorizon]] (the r4 dedup
    * horizon; same 3M-entry retention reasoning as the reference's weekly
    * cache clean, `ner-clean-cache.sh:9`). A key idle past `horizon` in
    * EVENT time has its state evicted via `EventTimeTimeout`: the timeout
    * timestamp is re-armed to (the key's max event time ever seen +
    * horizon) on every batch that carries the key — the max is kept in
    * state so a batch carrying only a within-delay LATE event cannot pull
    * the deadline backwards — and once the stream's watermark passes it,
    * the timed-out invocation removes the state and emits nothing
    * (flatMapGroupsWithState — a timeout is an eviction, not an output
    * row). A key re-arriving after eviction restarts its totals from zero,
    * exactly as an expired cache entry is recomputed. State size is bounded
    * by (active keys within the horizon), not the stream's lifetime.
    *
    * Lateness divergence from [[runningPerUser]]: EventTimeTimeout requires
    * a watermark, and flatMapGroupsWithState DROPS input rows older than it
    * before they reach the function — so an out-of-order event arriving
    * more than `watermarkDelay` of event time behind the stream's maximum
    * is silently excluded from the totals, where [[runningPerUser]] (no
    * watermark) counts everything. Size `watermarkDelay` to the source's
    * real disorder; within-delay late events are counted (spec-pinned).
    */
  def runningPerUserWithHorizon(spark: SparkSession, events: DataFrame,
      horizon: String = "1 hour",
      watermarkDelay: String = "10 minutes"): Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"),
        col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
          GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
            state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (n0, v0, t0) = state.getOption.getOrElse((0L, 0.0, Long.MinValue))
            var n = n0; var v = v0; var maxTs = t0
            rows.foreach { r =>
              n += 1; v += r._2
              if (r._3.getTime > maxTs) maxTs = r._3.getTime
            }
            state.update((n, v, maxTs))
            // re-arm relative to the key's newest event EVER SEEN (kept in
            // state): a batch carrying only a within-delay late event must
            // not pull the deadline earlier than `horizon` past the key's
            // true last activity
            state.setTimeoutTimestamp(maxTs, horizon)
            Iterator.single(UserRunning(uid, n, v))
          }
      }
  }
}
