package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge

/** J3 — canonicalization via connected components over the entity
  * co-occurrence / alias-ambiguity graph (north-star KG extension). No
  * GraphFrames jar ships in `/opt/spark/jars`, so this is iterative-
  * DataFrame min-label propagation with POINTER DOUBLING (the path-halving
  * trick of the small-star/large-star family, cf. Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"): every round does one
  * neighbor-min hop AND one label-of-label shortcut, so the distance from
  * any vertex to its component minimum at least halves per round —
  * convergence in O(log diameter) rounds, not O(diameter). A 4096-long
  * chain converges in ≤ 13 rounds (pinned by test); a plain one-hop loop
  * would need 4096.
  *
  *  - a metadata-keeping local checkpoint per iteration
  *    ([[org.apache.spark.sql.graft.CheckpointBridge]]) truncates lineage
  *    (an unbounded iterative self-join otherwise re-executes the whole
  *    prefix) while PRESERVING the labels' hash layout, and the loop runs
  *    AQE-off with a pinned partition count so the edge relation shuffles
  *    and sorts once for the whole loop instead of once per round; each
  *    round releases the superseded round's checkpoint blocks;
  *  - hot vertices need no salting: `min` is algebraic, so the hop's
  *    map-side partial aggregates cap a hot key's reduce fan-in at one
  *    row per map partition (see [[neighborMin]]; BENCH.md §42 measured
  *    a salt stage at +30% wall on 10M-degree hubs);
  *  - convergence detection by counting changed labels (fixpoint test);
  *    non-convergence within `maxIter` THROWS — a silently-unconverged
  *    canonical map would corrupt every downstream triple.
  *
  * Input `edges`: (src, dst) string vertex ids, undirected (either
  * orientation accepted). `vertices` (optional, single-column) adds
  * isolated vertices — vertices with no edges — which map to themselves;
  * deriving the vertex set from edges alone would silently drop them.
  * Output: (id, component) with component = min vertex id reachable.
  */
object ConnectedComponents {

  /** Re-plan a DataFrame's analyzed logical plan under another session —
    * how the loop below gets its own conf scope without mutating the
    * caller's session (both sessions share the SparkContext, so RDDs and
    * checkpoint blocks are common property).
    */
  private def rebind(s: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.dataFrame(
      s, org.apache.spark.sql.graft.ColumnBridge.logicalPlan(df))

  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
      vertices: Option[DataFrame] = None): DataFrame = {
    // The loop runs on a CLONED session (spark.newSession()) with AQE
    // OFF and a pinned shuffle-partition count: `Dataset.localCheckpoint`
    // loses partitioning metadata (stale attributes without AQE,
    // UnknownPartitioning with it — see CheckpointBridge), so before
    // this restructure EVERY round re-shuffled the full edge relation
    // into the hop join despite the edges being "pre-partitioned by
    // src". With the bridge's metadata-keeping checkpoint + a fixed
    // partition count, the edge set shuffles and sorts ONCE and every
    // round's hop and label joins reuse its layout; only the
    // aggregations, the pointer-doubling re-key, and the next-label
    // repartition exchange per round. AQE's in-loop services are not
    // missed: skew is handled by neighborMin's map-side min partials,
    // and coalescing is subsumed by sizing `parts` from the measured edge
    // count (250k rows/partition, capped by the caller's
    // shuffle.partitions — the operator's cluster-scale knob). The
    // cloned session keeps the conf scope PRIVATE: queries planned
    // concurrently on the caller's session (e.g. a streaming
    // micro-batch whose first-batch plan bakes shuffle.partitions into
    // its state layout) never observe the loop's settings.
    val sym0raw = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // Stage once at the caller's partitioning to measure the edge count
    // without recomputing the caller's upstream lineage, then restage
    // partitioned-by-src at the pinned count for the loop. This first
    // pass runs under the CALLER's session — the upstream lineage (e.g.
    // canonMap's set-building aggregation) is the expensive part of
    // small-graph invocations and keeps AQE's coalescing; its
    // checkpoint's partitioning metadata is discarded by the restage,
    // so losing it to AQE costs nothing.
    val sym0 =
      CheckpointBridge.localCheckpointKeepPartitioning(sym0raw, eager = true)
    // Every live checkpoint handle, so a mid-loop failure (including the
    // non-convergence throw) releases the blocks instead of pinning the
    // edge set until the ContextCleaner happens to notice.
    val live = scala.collection.mutable.ArrayBuffer(sym0.rdd)
    def release(r: org.apache.spark.rdd.RDD[_]): Unit = {
      r.unpersist(false)
      live -= r.asInstanceOf[org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow]]
    }
    def cp(df: DataFrame, eager: Boolean): CheckpointBridge.Checkpointed = {
      val c = CheckpointBridge.localCheckpointKeepPartitioning(df, eager)
      live += c.rdd
      c
    }
    try {
      val eCount = sym0.rows.get
      val loopSession = spark.newSession()
      loopSession.conf.set("spark.sql.adaptive.enabled", "false")
      val parts = math.min(
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
        math.max(1L, (eCount + 249_999) / 250_000)).toInt
      loopSession.conf.set("spark.sql.shuffle.partitions", parts.toString)

      val sym = cp(rebind(loopSession, sym0.df)
        .repartition(parts, col("src")).sortWithinPartitions("src"),
        eager = true)
      release(sym0.rdd)

      val fromEdges = sym.df.select(col("src").as("id"))
      val allVerts = vertices
        .map(v => rebind(loopSession, v.select(col(v.columns.head).as("id")))
          .unionByName(fromEdges))
        .getOrElse(fromEdges)
        .distinct()
        .sortWithinPartitions("id")
      var labels = cp(allVerts.withColumn("component", col("id")), eager = true)

      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // hop: candidate = min(own component, min over neighbors'
        // components).
        val withNbr = neighborMin(sym.df, labels.df)

        // `old` rides along so the convergence check below needs no extra
        // join; labels side is exchange- and sort-free (checkpoint layout),
        // withNbr arrives hash(id)-partitioned from its own aggregation.
        // Checkpointed (lazily) because BOTH sides of the doubling join
        // below read it: without a materialization the whole hop subtree
        // is planned twice and — with AQE's stage reuse off in here —
        // would COMPUTE twice per round. The exchange map-stage computes
        // and caches the blocks; the join's result stage reads the cache.
        val hopped = cp(
          labels.df.join(withNbr, Seq("id"), "left")
            .select(col("id"), col("component").as("old"),
              least(col("component"), coalesce(col("nbr_min"), col("component")))
                .as("component")),
          eager = false)

        // pointer doubling: component <- component(component). Every label
        // value is itself a vertex id, so the self-join always resolves;
        // `left` + coalesce guards the (impossible) miss anyway. parents is
        // hopped re-keyed by id (aliased "component") with its sort order
        // intact, so only the probe side re-shuffles (and re-sorts) here.
        val parents = hopped.df
          .select(col("id").as("component"), col("component").as("gp"))
        // LAZY checkpoint: the convergence count right below materializes
        // it, so each iteration runs ONE job (an eager checkpoint would run
        // two — measured as the dominant cost of toy-scale
        // canonicalization). The repartition+sort restores next round's
        // reusable layout; the count's LocalLimit schedules every
        // partition, so the checkpoint is FULLY materialized before the
        // superseded round's blocks are released below.
        val next = cp(
          hopped.df.join(parents, Seq("component"), "left")
            .select(col("id"), col("old"),
              least(col("component"), coalesce(col("gp"), col("component")))
                .as("component"))
            .repartition(parts, col("id"))
            .sortWithinPartitions("id"),
          eager = false)

        val changed = next.df.filter(col("component") =!= col("old"))
          .limit(1).count()
        converged = changed == 0L
        release(hopped.rdd)
        release(labels.rdd)
        labels = next.copy(df = next.df.drop("old"))
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"ConnectedComponents did not converge within $maxIter iterations " +
            "(pointer-doubling bounds rounds by log2(diameter); raise maxIter " +
            "only if the graph legitimately has diameter > 2^maxIter)")
      release(sym.rdd)
      // The final labels' blocks stay pinned — they ARE the result; the
      // ContextCleaner reclaims them once the caller drops the returned
      // DataFrame. Re-bound to the caller's session so downstream plans
      // composed over the result use the caller's confs, not the loop's.
      rebind(spark, labels.df)
    } catch {
      case t: Throwable =>
        live.foreach(r =>
          try r.unpersist(false) catch { case _: Throwable => () })
        throw t
    }
  }

  /** One hop of the loop: per vertex `id`, the minimum `component` over
    * its neighbors in `sym` (src, dst), read from `labels` (id,
    * component). Plans as a map-side partial `min` plus a final merge
    * (spec-pinned). In the loop `sym` and `labels` are co-partitioned and
    * co-sorted on the join key, so the join moves no rows.
    */
  private[graft] def neighborMin(sym: DataFrame, labels: DataFrame): DataFrame =
    sym.join(labels.withColumnRenamed("id", "src"), "src")
      .groupBy(col("dst").as("id"))
      .agg(min(col("component")).as("nbr_min"))

  /** [[run]] with a guarded driver fast path. Real co-occurrence /
    * near-dup graphs are far smaller than the corpora they summarize
    * (canonMap's is bounded by the linker's broadcast gazetteer;
    * dedup's by the verified duplicate-pair count): when the distinct
    * edge relation fits under `maxDriverRows`, collect it and run the
    * iterative union-find on the driver — ONE job instead of O(log d)
    * pointer-doubling rounds of ~6-stage jobs, whose per-round scheduling
    * latency dominates small-graph canonicalization. Graphs that exceed
    * the bound (checked with a limit, never an unbounded collect) fall
    * back to the distributed loop. The bound is read from ONE place —
    * `spark.graft.cc.maxDriverGraph` (default 2M rows) — so every
    * caller honors the same tuning knob. Isolated vertices: encode as
    * (v, v) self-edges — they register the vertex in both paths; there
    * is no separate vertex relation here.
    *
    * Driver-memory contract: driver heap for the probe is roughly
    * rows × (2 × id length) × ~4 (Row + String + char[] overhead), so a
    * pure row cap would let long-id graphs (URLs, paths) blow the driver
    * at counts a slug-id graph absorbs. The guard is therefore BYTE-aware:
    * a width probe (`take(1000)` on the same RDD the limit-collect then
    * reuses, so the upstream shuffle map stage runs ONCE) measures
    * the average (src+dst) id length and derives the effective row cap as
    * min(`spark.graft.cc.maxDriverGraph`,
    *     `spark.graft.cc.driverByteBudget` / (avgPairChars × 4)) —
    * 2M rows and a 256 MB budget by default, which coincide at the
    * zero-padded-numeric id width the dedup/canon callers use (10+10
    * chars → 2M rows ≈ 160 MB), so short-id behavior is unchanged while a
    * long-id graph falls back to the distributed loop without caller
    * tuning (spec-pinned). The width sample sees only the first
    * partition(s) — fine for a memory guard on graphs with roughly
    * uniform id shapes; adversarially mixed widths should size the confs
    * directly. A cross-partition sample would not be cheap here: the RDD
    * roots in canonMap's HashAggregate, which consumes ALL of a reduce
    * partition's input before emitting its first row, so any
    * per-partition head over every partition runs the full reduce stage —
    * the exact cost the shared-RDD take() exists to avoid (BENCH.md §37).
    */
  val maxDriverGraphConfKey = "spark.graft.cc.maxDriverGraph"
  val driverByteBudgetConfKey = "spark.graft.cc.driverByteBudget"

  def runAuto(spark: SparkSession, edges: DataFrame): DataFrame = {
    // STRING ids required up front: the driver path orders components by
    // String min while the distributed path would use the column's native
    // ordering — numeric ids would pick a DIFFERENT canonical
    // representative depending on which path the graph's SIZE selects.
    // Fail analysis loudly instead (format ids first, as the near-dup
    // query's lpad does — zero-padding keeps numeric and lexicographic
    // order aligned).
    val proj = edges.select(col("src"), col("dst"))
    proj.schema.fields.filterNot(
        _.dataType == org.apache.spark.sql.types.StringType) match {
      case bad if bad.nonEmpty =>
        throw new IllegalArgumentException(
          "runAuto requires string vertex ids (driver and distributed " +
            "paths must agree on min-id ordering); cast/format first: " +
            bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
      case _ =>
    }
    val maxDriverRows = spark.conf.getOption(maxDriverGraphConfKey)
      .map(_.toInt).getOrElse(2_000_000)
    // <= 0 = FORCE the distributed loop, skipping the probe entirely. The
    // probe is not free: its take()s execute the full upstream lineage
    // (e.g. canonMap's tag→link→set-build aggregation) once before run()
    // recomputes it for the edge checkpoint — the documented extra pass of
    // the over-bound path. A caller that KNOWS the driver path is off the
    // table (the j3_canon_dist gate; operators pinning the distributed
    // shape in production) should not pay a full upstream pass to learn
    // what it already knows. (A positive bound still probes: even bound 1
    // legitimately keeps a 1-edge graph on the driver.) Measured: the
    // gated j3_canon_dist drops ~0.25 s of its ~1.5 s (OPTIMIZATION_r08).
    if (maxDriverRows <= 0) return run(spark, edges)
    val byteBudget = spark.conf.getOption(driverByteBudgetConfKey)
      .map(_.toLong).getOrElse(256L << 20)
    // Width probe AND limit-collect run as two take()s on the SAME RDD:
    // two `limit(n).collect()` calls build two physical plans, and on a
    // shuffle-bearing input (canonMap's groupBy+collect_set) each one
    // re-executes the FULL upstream map stage before its CollectLimit can
    // read a reduce partition. take() on one shared RDD lets the
    // DAGScheduler reuse the completed shuffle map stage across the two
    // jobs (it shows as "skipped" stages), so the probe costs one reduce
    // partition, not a second pass over the lineage. toString copies out
    // of the per-iterator-reused UnsafeRow before take() buffers it.
    val pairRdd = proj.queryExecution.toRdd.mapPartitions(_.map { r =>
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
    })
    val widthSample = pairRdd.take(1000)
    val avgPairChars =
      if (widthSample.isEmpty) 0.0
      else widthSample.iterator.map { case (s, d) =>
        (if (s == null) 0 else s.length) + (if (d == null) 0 else d.length)
      }.sum.toDouble / widthSample.length
    val rowCap =
      if (avgPairChars <= 0.0) maxDriverRows
      else math.min(maxDriverRows.toLong,
        (byteBudget / (avgPairChars * 4)).toLong).toInt
    // NOTE on the over-bound path: the probe has already executed the
    // upstream lineage once, and run() recomputes it (its own checkpoint
    // of the symmetrized edges). Pre-checkpointing the edges before the
    // probe would avoid that ONE extra aggregation — but would pin
    // checkpoint blocks on EVERY call of the common small-graph path,
    // the exact repeated-invocation accumulation measured in BENCH.md
    // §25. One bounded recompute on the rare fallback is the better
    // trade.
    val rows = pairRdd.take(rowCap + 1)
    if (rows.length <= rowCap) {
      val comp = runScalar(rows.toSeq)
      import spark.implicits._
      comp.toSeq.toDF("id", "component")
    } else run(spark, edges)
  }

  /** Scalar union-find twin — the spec oracle, and the driver-side CC for
    * dictionary-bounded graphs (`KgPipeline.canonMap`'s guarded fast
    * path). Iterative find with path compression: stack-safe on
    * million-edge chains, near-linear total.
    *
    * Min-id ordering is UTF-8 BYTE-wise ([[utf8Lt]]), NOT Java
    * `String.compareTo`: the distributed path's `min(component)` orders by
    * Spark's UTF8String binary comparison (= code-point order), and Java's
    * UTF-16 code-unit order disagrees for supplementary characters mixed
    * with U+E000..U+FFFF — both paths (and DuckDB's memcmp collation) must
    * pick the same canonical representative regardless of which one the
    * graph's size selects.
    */
  def runScalar(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (utf8Lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** UTF-8 byte-wise "less than" — Spark UTF8String / DuckDB memcmp order.
    * Delegates to Spark's own `UTF8String` comparison, so this IS the
    * distributed path's ordering by definition rather than a hand-rolled
    * re-derivation of it. Equivalent to code-point order; ASCII-only ids
    * are unaffected. The per-comparison encode is fine at the guarded
    * ≤2M-edge driver scale.
    */
  private[graft] def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
}
