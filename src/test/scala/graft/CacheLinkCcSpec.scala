package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.pipeline.{KgPipeline, Manifest, NioRawLocalFileSystem}

/** J1 cache equivalence, O2 retention, J2 linking determinism, J3 connected
  * components (fixpoint + vs union-find), and manifest resume.
  */
class CacheLinkCcSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // span-true tagger over a (k, sentence) relation
  private val tagger: DataFrame => DataFrame = df =>
    df.withColumn("entities", Tagger.tagWithSpansUdf(spark)(col("sentence")))

  test("J1: cache-on == cache-off; second run computes nothing new") {
    val docs = Fixtures.docsDf(150)
    val sentences = KgPipeline.sentences(docs)
    val cacheDir = tmpDir("tagcache") + "/cache"

    val withCache = TagCache.tagThroughCache(spark, sentences, cacheDir, tagger)
      .select(col("repo"), col("path"), col("sent_idx"),
        explode(col("entities")).as("e"))
      .select(col("repo"), col("path"), col("sent_idx"),
        col("e.text"), col("e.label"))
      .as[(String, String, Int, String, String)].collect().toSet

    val noCache = tagger(sentences.withColumn("k", lit("")))
      .select(col("repo"), col("path"), col("sent_idx"),
        explode(col("entities")).as("e"))
      .select(col("repo"), col("path"), col("sent_idx"),
        col("e.text"), col("e.label"))
      .as[(String, String, Int, String, String)].collect().toSet

    assert(withCache == noCache)

    // distinct sentences across the corpus — the cache holds exactly those
    val nDistinct = sentences.select("sentence").distinct().count()
    val cache1 = spark.read.parquet(cacheDir)
    assert(cache1.count() == nDistinct)

    // run again: everything hits; cache size unchanged (nothing re-tagged)
    TagCache.tagThroughCache(spark, sentences, cacheDir, tagger, ingestTs = 1L)
      .count()
    assert(spark.read.parquet(cacheDir).count() == nDistinct)
  }

  test("J1: the tagger runs EXACTLY once per distinct miss (no double compute)") {
    val acc = spark.sparkContext.longAccumulator("tagger-invocations")
    val countingTagger: DataFrame => DataFrame = df =>
      df.withColumn("entities",
        udf { (s: String) => acc.add(1L); Tagger.tagScalar(s) }
          .apply(col("sentence")))
    val docs = Fixtures.docsDf(60)
    val sentences = KgPipeline.sentences(docs)
    val cacheDir = tmpDir("tagcount") + "/cache"
    TagCache.tagThroughCache(spark, sentences, cacheDir, countingTagger).count()
    val nDistinct = sentences.select("sentence").distinct().count()
    assert(acc.value == nDistinct,
      s"tagger ran ${acc.value} times for $nDistinct distinct misses — " +
        "the join-back must read the committed cache, not re-run the lineage")
  }

  test("O2: histogram retention == global-window retention, incl. boundary-stamp ties") {
    // 300 rows over 10 ingest stamps (30 rows each); keep=95 cuts stamp 7
    // mid-way: 60 full rows (stamps 9,8) + 35 tie-broken rows at stamp 7.
    val rows = (1 to 300).map(i => (f"k$i%04d", s"s$i",
      Seq.empty[graft.model.Entity], (i % 10).toLong))
      .toDF("k", "sentence", "entities", "ingest_ts")
    val a = TagCache.retention(rows, 95)
      .select("k", "ingest_ts").as[(String, Long)].collect().toSet
    val b = TagCache.retentionGlobalWindow(rows, 95)
      .select("k", "ingest_ts").as[(String, Long)].collect().toSet
    assert(a == b && a.size == 95)
  }

  test("J3: chain of 4096 converges within 13 iterations (pointer doubling)") {
    // one-hop propagation would need 4096 rounds; run() throws past maxIter,
    // so succeeding at maxIter=13 IS the O(log d) evidence (log2 4096 = 12).
    val chain = (0 until 4096).map(i => (f"c$i%05d", f"c${i + 1}%05d"))
    val got = ConnectedComponents.run(spark, chain.toDF("src", "dst"),
      maxIter = 13)
    assert(got.filter(col("component") =!= "c00000").count() == 0L)
  }

  test("J3: bridge checkpoints keep partitioning — hop join is exchange- and sort-free (BENCH §29)") {
    // Pins the plan property the CC loop's 1.6x rests on: joins between
    // CheckpointBridge checkpoints co-partitioned/co-sorted on the key
    // must plan with NO Exchange and NO standalone Sort (AQE off, as the
    // loop runs). The control assertion documents the Spark 4.1.2
    // behavior the bridge exists for — plain Dataset.localCheckpoint
    // drops the metadata and re-shuffles. If the CONTROL assertion ever
    // fails, Spark fixed its checkpoint and the bridge may be droppable.
    import org.apache.spark.sql.graft.CheckpointBridge
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val e = s2.range(200).select(
      format_string("%06d", col("id")).as("src"),
      format_string("%06d", (col("id") + 1) % 100).as("dst"))

    val sym = CheckpointBridge.localCheckpointKeepPartitioning(
      e.repartition(4, col("src")).sortWithinPartitions("src"), eager = true)
    val labels = CheckpointBridge.localCheckpointKeepPartitioning(
      sym.df.select(col("src").as("id")).distinct().sortWithinPartitions("id")
        .withColumn("component", col("id")), eager = true)
    val hop = sym.df.join(labels.df.withColumnRenamed("id", "src"), "src")
    assert(hop.count() == 200L)
    val plan = hop.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Sort ["), plan) // "Sort [" misses SortMergeJoin

    val symPlain = e.repartition(4, col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    val labelsPlain = symPlain.select(col("src").as("id")).distinct()
      .sortWithinPartitions("id").withColumn("component", col("id"))
      .localCheckpoint(true)
    val hopPlain = symPlain
      .join(labelsPlain.withColumnRenamed("id", "src"), "src")
    assert(hopPlain.count() == 200L)
    assert(hopPlain.queryExecution.executedPlan.toString.contains("Exchange"),
      "Dataset.localCheckpoint now preserves partitioning metadata — " +
        "re-evaluate whether CheckpointBridge is still needed")
    sym.rdd.unpersist(false)
    labels.rdd.unpersist(false)
  }

  test("J3: hop aggregation plans partial_min before its exchange and final min after (hot-key defense)") {
    // The loop's skew defense: `min` is algebraic, so the hop plans as a
    // partial aggregate below its one exchange and a final merge above it.
    // A hub of degree 2000 over 4 partitions reaches its reducer as at most
    // 4 partial rows. Planned as the loop runs it: AQE off, pinned
    // partition count, bridge checkpoints co-partitioned on the join key.
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Min, Partial}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graft.CheckpointBridge
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val spokes = (1 to 2000).map(i => ("000000", f"$i%06d"))
    val star = s2.createDataFrame(spokes).toDF("src", "dst")
    val e = star.unionAll(star.select(col("dst").as("src"), col("src").as("dst")))

    val sym = CheckpointBridge.localCheckpointKeepPartitioning(
      e.repartition(4, col("src")).sortWithinPartitions("src"), eager = true)
    val labels = CheckpointBridge.localCheckpointKeepPartitioning(
      sym.df.select(col("src").as("id")).distinct().sortWithinPartitions("id")
        .withColumn("component", col("id")), eager = true)
    val nbr = ConnectedComponents.neighborMin(sym.df, labels.df)
    val got = nbr.as[(String, String)].collect().toMap
    assert(got == spokes.map(_._2).map(_ -> "000000").toMap + ("000000" -> "000001"))

    val plan = nbr.queryExecution.executedPlan
    def hasMin(a: BaseAggregateExec, mode: AggregateMode): Boolean =
      a.aggregateExpressions.exists(x =>
        x.mode == mode && x.aggregateFunction.isInstanceOf[Min])
    val exchanges = plan.collect { case x: ShuffleExchangeExec => x }
    assert(exchanges.size == 1, plan.toString)
    val partials = exchanges.head.child.collect {
      case a: BaseAggregateExec if hasMin(a, Partial) => a }
    assert(partials.size == 1, plan.toString)
    val finals = plan.collect {
      case a: BaseAggregateExec if hasMin(a, Final) => a }
    assert(finals.size == 1, plan.toString)
    assert(finals.head.collectFirst { case x: ShuffleExchangeExec => x }.nonEmpty,
      plan.toString)
    sym.rdd.unpersist(false)
    labels.rdd.unpersist(false)

    val cc = ConnectedComponents.run(spark, spokes.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(cc == ConnectedComponents.runScalar(spokes))
  }

  test("J3: isolated vertices survive canonMap (vertex set from links, not edges)") {
    // E07 is linked in one doc with no co-occurring entity: no edge touches
    // it, but the canon map must still carry it as its own canonical id.
    val links = Seq(
      ("d1", "E01"), ("d1", "E02"), // edge E01-E02
      ("d2", "E07")                 // isolated
    ).toDF("doc_id", "entity_id")
    val got = KgPipeline.canonMap(spark, links, Seq("doc_id"))
      .as[(String, String)].collect().toMap
    assert(got == Map("E01" -> "E01", "E02" -> "E01", "E07" -> "E07"))
    // the guarded driver fast path and the distributed fallback must agree:
    // force the fallback by shrinking the driver-graph bound below the
    // edge count
    def isProbe(site: String) = site.startsWith("take at")
    spark.conf.set(ConnectedComponents.maxDriverGraphConfKey, "1")
    try {
      val (fb, fbJobs) = Fixtures.jobsDuring(spark)(
        KgPipeline.canonMap(spark, links, Seq("doc_id"))
          .as[(String, String)].collect().toMap)
      assert(fb == got, "distributed CC fallback must produce the same map")
      // a positive bound probes first: the take() jobs the bound-0 arm
      // below must not run are visible here
      assert(fbJobs.exists(isProbe), s"bound 1 must probe; jobs: $fbJobs")
    } finally spark.conf.unset(ConnectedComponents.maxDriverGraphConfKey)
    // bound 0 = FORCE-distributed (r8): skips the probe entirely — the
    // j3_canon_dist gate's pin — and must still produce the identical map
    // WITHOUT a driver-built LocalRelation result
    spark.conf.set(ConnectedComponents.maxDriverGraphConfKey, "0")
    try {
      // the distributed loop runs eagerly, inside canonMap
      val (forced, forcedJobs) = Fixtures.jobsDuring(spark)(
        KgPipeline.canonMap(spark, links, Seq("doc_id")))
      assert(forcedJobs.nonEmpty && !forcedJobs.exists(isProbe),
        s"bound 0 must skip the probe; jobs: $forcedJobs")
      val forcedDriverBuilt = forced.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(!forcedDriverBuilt,
        "bound 0 must force the distributed loop, never the driver path")
      assert(forced.as[(String, String)].collect().toMap == got,
        "force-distributed CC must produce the same map")
    } finally spark.conf.unset(ConnectedComponents.maxDriverGraphConfKey)
  }

  test("J3: byte-aware guard — long-id graph auto-falls back to the distributed loop") {
    // runAuto's driver probe is byte-budgeted, not just row-capped: the
    // width probe measures avg (src+dst) id chars and shrinks the row cap
    // to driverByteBudget / (chars × 4). 60 edges of ~2000-char ids under
    // a 100 KB budget -> cap ≈ 6 rows -> the distributed loop runs (the
    // result is NOT a driver-built LocalRelation) and produces the same
    // map the driver path gives under the default budget.
    val longId = (n: Int) => f"v$n%04d" + ("x" * 2000)
    val edges = (0 until 60).map(i => (longId(i), longId((i / 3) * 3)))
      .toDF("src", "dst")
    def isDriverBuilt(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val viaDriver = ConnectedComponents.runAuto(spark, edges)
    assert(isDriverBuilt(viaDriver),
      "default budget must keep a short row count on the driver path")
    val expected = viaDriver.as[(String, String)].collect().toMap
    spark.conf.set(ConnectedComponents.driverByteBudgetConfKey, "100000")
    try {
      val fb = ConnectedComponents.runAuto(spark, edges)
      assert(!isDriverBuilt(fb),
        "long ids under a small byte budget must take the distributed loop")
      assert(fb.as[(String, String)].collect().toMap == expected,
        "both guard paths must produce the identical component map")
    } finally spark.conf.unset(ConnectedComponents.driverByteBudgetConfKey)
  }

  test("J3: hot doc linking 10^4 entities emits LINEAR star edges, same components") {
    // a clique build would emit K(K-1)/2 ≈ 5·10^7 rows here; the star build
    // must emit exactly K-1 edges per doc, plus the hub's self-pair.
    // Components must match the clique semantics: d-hot's 10^4 entities are
    // one cluster, bridged to d2's via the shared E00000.
    val k = 10000
    val hot = (0 until k).map(i => ("d-hot", f"E$i%05d"))
    val other = Seq(("d2", "E00000"), ("d2", "Z1"), ("d3", "Q1"))
    val links = (hot ++ other).toDF("doc_id", "entity_id")
    val sets = links.groupBy("doc_id")
      .agg(collect_set(col("entity_id")).as("es"))
    val pairs = KgPipeline.starPairs(sets)
    assert(pairs.filter(col("src") =!= col("dst")).count() == (k - 1) + 1 + 0,
      "star edge count must be linear in per-doc entity count")
    // self-pairs: E00000 (hub of d-hot and d2, once after the distinct), Q1
    assert(pairs.filter(col("src") === col("dst")).count() == 2)
    val got = KgPipeline.canonMap(spark, links, Seq("doc_id"))
      .as[(String, String)].collect().toMap
    assert(got.size == k + 2)
    assert(got("Z1") == "E00000" && got(f"E${k - 1}%05d") == "E00000")
    assert(got("Q1") == "Q1")
  }

  test("O2: retention keeps exactly K most recent") {
    val rows = (1 to 500).map(i => (f"k$i%04d", s"sent $i", Seq.empty[graft.model.Entity], i.toLong))
      .toDF("k", "sentence", "entities", "ingest_ts")
    val kept = TagCache.retention(rows, 100)
    assert(kept.count() == 100)
    assert(kept.agg(min("ingest_ts")).as[Long].collect().head == 401L)
  }

  test("J1 bucketed cache: join-back shuffles only the probe side; results identical") {
    // the j1_bucketed_cache gate's own query. At fixture scale the planner
    // broadcasts the small cache (and drops its buckets); broadcast off
    // surfaces the plan a production-sized cache gets — the bucketed
    // (cache) side must be exchange-free: its bucket layout IS the
    // partitioning, so only the probe side shuffles
    val dir = "/root/testdata/sf0.001"
    val gate = SparkEntry.queries("j1_bucketed_cache")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaBucket = try {
      val big = gate(spark, dir)
      val plan = big.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"expected at most the probe-side exchange, got:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"cache side must scan bucketed:\n$plan")
      big.as[(Long, String, Long)].collect().toSeq
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // row-identical to a plain join of the same inputs: the probe keys and
    // the cache table's rows as a local relation
    val cacheRows = spark.table("graft_bucketed_cache")
      .select("k", "cached_doc").as[(String, Long)].collect().toSeq
      .toDF("k", "cached_doc")
    val viaPlain = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.Text.sha256Hex(col("text")).as("k"))
      .join(cacheRows, Seq("k"), "left")
      .select(col("doc_id"), col("k"),
        coalesce(col("cached_doc"), lit(-1L)).as("cached_doc"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(viaBucket.nonEmpty && viaBucket.exists(_._3 >= 0))
    assert(viaBucket == viaPlain)
  }

  test("J2: ambiguous alias resolved by lang bonus, then entity_id tiebreak") {
    // 'merge' -> E04 (prior .60, en) vs E05 (prior .55, de):
    // en doc: E04 (.60+.20=.80 vs .55) ; de doc: E05 (.55+.20=.75 vs .60)
    val mentions = Seq(
      ("d-en", "en", "ORG", "merge", 0.98),
      ("d-de", "de", "ORG", "merge", 0.98))
      .toDF("doc", "lang", "label", "mention", "confidence")
    val got = Linker.link(spark, mentions, Seq("doc"))
      .select("doc", "entity_id").as[(String, String)].collect().toMap
    assert(got == Map("d-en" -> "E04", "d-de" -> "E05"))
  }

  test("J2: normalization routes 'The Window' to the window aliases") {
    val mentions = Seq(("d1", "en", "WORK_OF_ART", "The Window", 0.96))
      .toDF("doc", "lang", "label", "mention", "confidence")
    val got = Linker.link(spark, mentions, Seq("doc"))
      .select("entity_id").as[String].collect().toSeq
    assert(got == Seq("E09"))
  }

  test("J3: CC matches union-find on seeded random graphs incl. hot vertex") {
    val rnd = new scala.util.Random(13)
    (1 to 5).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val edges = (1 to n).map { _ =>
        (s"v${rnd.nextInt(25)}", s"v${rnd.nextInt(25)}")
      } ++ (1 to 10).map(i => ("hot", s"v${rnd.nextInt(25)}")) // star on 'hot'
      val expected = ConnectedComponents.runScalar(edges)
      val got = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
        .as[(String, String)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("J3: driver and distributed paths agree on NON-ASCII min-id ordering") {
    // U+E000 (private use, 3-byte UTF-8) vs U+1F600 (emoji, 4-byte UTF-8):
    // UTF-8 byte order puts U+E000 first; Java String.compareTo orders by
    // UTF-16 code units, where the emoji's high surrogate (0xD83D) sorts
    // BELOW 0xE000 — the exact divergence the r4 advisor flagged. Both
    // paths must pick the UTF8String/memcmp representative, so which path
    // the graph's size selects never changes the output.
    val puaId = "\uE000x"
    val emojiId = new String(Character.toChars(0x1F600)) + "x"
    assert(puaId.compareTo(emojiId) > 0, "precondition: Java order inverted")
    val edges = Seq((puaId, emojiId))
    val scalar = ConnectedComponents.runScalar(edges)
    assert(scalar.values.toSet == Set(puaId),
      "driver union-find must use UTF-8 byte order, not String.compareTo")
    val dist = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(dist == scalar)
  }

  test("J3: fixpoint — one more iteration changes nothing") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val l1 = ConnectedComponents.run(spark, edges, maxIter = 20)
      .as[(String, String)].collect().toMap
    val l2 = ConnectedComponents.run(spark, edges, maxIter = 21)
      .as[(String, String)].collect().toMap
    assert(l1 == l2)
    assert(l1 == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("J3: chain of length 12 converges (log-steps min-label propagation)") {
    val chain = (0 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val got = ConnectedComponents.run(spark, chain.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(got.values.toSet == Set("n00"))
  }

  test("manifest resume: second run reads the committed snapshot; fingerprint change recomputes") {
    val wh = tmpDir("warehouse")
    var computes = 0
    def stage(): DataFrame = { computes += 1; Fixtures.docsDf(50) }

    val r1 = Manifest.runStage(spark, wh, "docs", Seq("lang"), "fp-A")(stage())
    assert(computes == 1 && r1.count() == 50)
    val r2 = Manifest.runStage(spark, wh, "docs", Seq("lang"), "fp-A")(stage())
    assert(computes == 1, "resume must not recompute")
    assert(r2.count() == 50)
    Manifest.runStage(spark, wh, "docs", Seq("lang"), "fp-B")(stage())
    assert(computes == 2, "fingerprint change must recompute")

    // The full manifest: compact, keys in writer order, and the top-level
    // `rows` before `partitions` (a first-match `"rows":` reader takes the
    // total). Manifests already on disk have these bytes and stay fresh.
    val fields = Seq("repo", "path", "commit", "lang", "content").map(c =>
      s"""{\\"name\\":\\"$c\\",\\"type\\":\\"string\\",\\"nullable\\":true,\\"metadata\\":{}}""")
    val expected = """{"stage":"docs","rows":50,"input_fingerprint":"fp-B",""" +
      """"partition_cols":["lang"],"partitions":[{"partition":"java","rows":9},""" +
      """{"partition":"md","rows":12},{"partition":"py","rows":11},""" +
      """{"partition":"scala","rows":9},{"partition":"txt","rows":9}],""" +
      s""""schema":"{\\"type\\":\\"struct\\",\\"fields\\":[${fields.mkString(",")}]}"}"""
    assert(Manifest.readManifest(spark, wh, "docs").get == expected)
  }

  test("manifest fingerprint is FIELD-parsed: colliding substring elsewhere doesn't read fresh") {
    // The freshness check runStage and Main.run call, over manifests
    // written by hand. Each carries a valid schema, so a None below comes
    // from the fingerprint field (or a parse failure), not a missing schema.
    val wh = tmpDir("warehouse-fp")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("p STRING")
    val schemaField = s""","schema":${graft.JsonUtil.str(schema.json)}}"""
    def fresh(manifest: String, fp: String) = {
      val p = java.nio.file.Paths.get(Manifest.manifestPath(wh, "s"))
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, manifest.getBytes("UTF-8"))
      Manifest.freshSchema(spark, wh, "s", fp)
    }
    // a partition value that CONTAINS an escaped fingerprint-like blob must
    // not satisfy the freshness check for that blob; the real field must.
    val manifest = """{"stage":"s","rows":1,""" +
      """"input_fingerprint":"fp-REAL",""" +
      """"partition_cols":["p"],""" +
      """"partitions":[{"partition":"x\"input_fingerprint\":\"fp-FAKE\"","rows":1}]""" +
      schemaField
    assert(fresh(manifest, "fp-REAL").contains(schema))
    assert(fresh(manifest, "fp-FAKE").isEmpty)
    // escaped value round-trips
    val esc = """{"input_fingerprint":"a\"b\\c"""" + schemaField
    assert(fresh(esc, "a\"b\\c").contains(schema))
    // a corrupt manifest (a truncated or invalid \u escape, or an empty
    // file) does not parse: it is not fresh for any reading of the
    // garbled value, and checking it does not throw (the stage then
    // recomputes)
    val truncated = "{\"input_fingerprint\":\"x\\u004\"" + schemaField
    val invalid = "{\"input_fingerprint\":\"x\\uZZZZy\"" + schemaField
    for (fp <- Seq("xu004", "x\\u004", "x\u0004", "x"))
      assert(fresh(truncated, fp).isEmpty, fp)
    for (fp <- Seq("xuZZZZy", "x\\uZZZZy", "x"))
      assert(fresh(invalid, fp).isEmpty, fp)
    assert(fresh("", "").isEmpty)
    assert(Manifest.freshSchema(spark, wh, "none", "fp-REAL").isEmpty)

    // end-to-end: a fingerprint change must recompute
    var computes = 0
    def stage(): DataFrame = { computes += 1; Fixtures.docsDf(10) }
    Manifest.runStage(spark, wh, "d", Seq("lang"), "fp-1")(stage())
    assert(computes == 1)
    Manifest.runStage(spark, wh, "d", Seq("lang"), "fp-2")(stage())
    assert(computes == 2, "different fingerprint must recompute")
  }

  test("manifest partition keys keep the source types (no directory-name type re-inference)") {
    // numeric-looking string partition values ("1e5", "007") must render
    // verbatim in the manifest, not as re-inferred doubles/ints.
    val wh = tmpDir("warehouse-types")
    val df = Seq(("1e5", 1L), ("1e5", 2L), ("007", 3L)).toDF("repo", "v")
    Manifest.writeStage(spark, df, wh, "t", Seq("repo"))
    val m = Manifest.readManifest(spark, wh, "t").get
    assert(m.contains("\"partition\":\"1e5\"") && m.contains("\"partition\":\"007\""),
      s"manifest rendered re-typed partition keys: $m")
    assert(!m.contains("100000") && !m.contains("\"partition\":\"7\""))
  }

  test("manifest stage reads keep numeric-looking partition values as strings (compute and resume)") {
    // repo="01" must not come back as 1, nor lang="1e5" as 100000: both
    // runStage paths read with the committed schema, so no directory-name
    // type inference runs, and Main.run's subj keeps the leading zero.
    val wh = tmpDir("warehouse-numeric")
    val links = Seq(
      ("01", "a.py", "c1", "1e5", "PER", "E01"),
      ("007", "b.py", "c2", "2", "ORG", "E02"),
      ("01", "c.py", "c3", "2", "GPE", "E03"))
      .toDF("repo", "path", "commit", "lang", "label", "entity_id")
    var computes = 0
    def run(): DataFrame = Manifest.runStage(spark, wh, "links",
      Seq("repo", "lang"), "fp")({ computes += 1; links })
    val computed = run()
    val resumed = run()
    assert(computes == 1, "the second pass must resume")
    for ((pass, rel) <- Seq("compute" -> computed, "resume" -> resumed)) {
      assert(Seq("repo", "lang").map(rel.schema(_).dataType) ==
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType),
        s"$pass pass re-typed the partition columns: ${rel.schema.simpleString}")
      assert(rel.select("repo", "lang").as[(String, String)].collect().toSet ==
        Set(("01", "1e5"), ("007", "2"), ("01", "2")), s"$pass pass values")
      val subj = KgPipeline.linkTriples(rel, None)
        .select("subj").as[String].collect().toSet
      assert(subj == Set("01/a.py@c1", "007/b.py@c2", "01/c.py@c3"),
        s"$pass pass subj: $subj")
    }
  }

  test("manifest resume launches no Spark job (the schema comes from the manifest)") {
    val wh = tmpDir("warehouse-jobs")
    val part = Seq("repo", "lang")
    Manifest.runStage(spark, wh, "docs", part, "fp")(Fixtures.docsDf(50))
    val (rel, jobs) = Fixtures.jobsDuring(spark)(
      Manifest.runStage(spark, wh, "docs", part, "fp")(
        fail("a fresh manifest must not recompute")))
    assert(jobs.isEmpty, s"fresh-manifest runStage launched jobs: $jobs")
    assert(rel.count() == 50)
  }

  test("manifest without a usable schema (earlier format, or corrupt) recomputes once, then resumes") {
    val wh = tmpDir("warehouse-noschema")
    var computes = 0
    def run(): DataFrame = Manifest.runStage(spark, wh, "docs", Seq("lang"),
      "fp")({ computes += 1; Fixtures.docsDf(20) })
    run()
    val current = Manifest.readManifest(spark, wh, "docs").get
    val schemaField = ""","schema":"(?:[^"\\]|\\.)*"}$"""
    val earlier = current.replaceFirst(schemaField, "}")
    assert(earlier != current && !earlier.contains("\"schema\""))
    // a schema that no longer parses reads as not fresh too, not as a throw
    val corrupt = current.replaceFirst(schemaField, ""","schema":"{"}""")
    // a manifest that does not parse at all (an invalid \u escape)
    val unparseable = current.replace("\"fp\"", "\"f\\uZZZZp\"")
    assert(unparseable != current)
    for ((variant, manifest) <- Seq("no schema" -> earlier,
        "corrupt schema" -> corrupt, "unparseable" -> unparseable)) {
      // through the Hadoop filesystem, so the checksum file stays consistent
      val p = new org.apache.hadoop.fs.Path(Manifest.manifestPath(wh, "docs"))
      val o = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try o.write(manifest.getBytes("UTF-8")) finally o.close()
      val before = computes
      val (_, recomputeJobs) = Fixtures.jobsDuring(spark)(run())
      assert(computes == before + 1 && recomputeJobs.nonEmpty,
        s"$variant: the stage must recompute")
      assert(Manifest.readManifest(spark, wh, "docs").get == current,
        s"$variant: the recompute commits the schema-carrying manifest")
      val (_, resumeJobs) = Fixtures.jobsDuring(spark)(run())
      assert(computes == before + 1 && resumeJobs.isEmpty,
        s"$variant: after the recompute it resumes")
    }
  }

  private def unixMode(p: java.nio.file.Path): Int =
    java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  test("NioRawLocalFileSystem.setPermission leaves the bits of the stock forked chmod") {
    import java.nio.file.{Files, Path => NioPath}
    import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new RawLocalFileSystem
    val nio = new NioRawLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    val root = tmpDir("perm-twin")
    // each fs gets its own fresh target, set up alike; returns the mode both leave
    def twin(name: String, dir: Boolean, initial: Option[Int], mode: Int): Int = {
      val Seq(a, b) = Seq(stock, nio).map { fs =>
        val p = java.nio.file.Paths.get(root, s"$name-${fs.getClass.getSimpleName}")
        if (dir) Files.createDirectory(p) else Files.createFile(p)
        initial.foreach(m => Files.setAttribute(p, "unix:mode", Int.box(m)))
        // a plain mode on a plain target must take the java.nio path
        val current = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
        assert(NioRawLocalFileSystem.posixBits(mode, current).isDefined ==
          (((mode | current) & octal("7000")) == 0), f"$name: $current%o")
        fs.setPermission(new Path(p.toUri), new FsPermission(mode.toShort))
        p
      }
      def perms(p: NioPath) = (Files.getPosixFilePermissions(p), unixMode(p))
      assert(perms(a) == perms(b), s"$name: stock ${perms(a)}, nio ${perms(b)}")
      unixMode(a)
    }
    for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777"); dir <- Seq(false, true))
      assert(twin(s"m$m-$dir", dir, None, octal(m)) == octal(m))
    // sticky: no rwx set can say it, so it takes the forked fallback
    assert(NioRawLocalFileSystem.posixBits(octal("1777"), 0).isEmpty)
    assert(twin("sticky", dir = true, None, octal("1777")) == octal("1777"))
    // `chmod 0755` keeps a directory's setgid bit; chmod(2) would clear it
    assert(twin("setgid", dir = true, Some(octal("2775")), octal("0755")) == octal("2755"))
  }

  test("a stage commit leaves Hadoop's default permissions under the conf's umask") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.permission.FsPermission
    val hconf = spark.sparkContext.hadoopConfiguration
    val saved = Option(hconf.get(FsPermission.UMASK_LABEL))
    // the default umask, then one the process umask (022) would not give
    for (umask <- Seq(None, Some("027"))) try {
      umask.foreach(hconf.set(FsPermission.UMASK_LABEL, _))
      val mask = FsPermission.getUMask(hconf)
      val fileMode = FsPermission.getFileDefault.applyUMask(mask).toShort.toInt
      val dirMode = FsPermission.getDirDefault.applyUMask(mask).toShort.toInt
      val wh = tmpDir("warehouse-perms")
      Manifest.writeStage(spark, Fixtures.docsDf(60), wh, "docs", Seq("repo", "lang"))
      val stageDir = java.nio.file.Paths.get(wh, "docs")
      val (dirs, files) = java.nio.file.Files.walk(stageDir).iterator.asScala.toSeq
        .partition(java.nio.file.Files.isDirectory(_))
      val names = files.map(_.getFileName.toString)
      assert(Seq("_SUCCESS", "_manifest.json", "._manifest.json.crc").forall(names.contains),
        s"$umask: $names")
      assert(names.exists(_.endsWith(".parquet")) &&
        names.exists(n => n.startsWith(".part-") && n.endsWith(".crc")))
      assert(dirs.exists(_.getFileName.toString.startsWith("repo=")) &&
        dirs.exists(_.getFileName.toString.startsWith("lang=")))
      for (f <- files) assert(unixMode(f) == fileMode,
        f"$umask: $f is ${unixMode(f)}%o, want $fileMode%o")
      for (d <- dirs) assert(unixMode(d) == dirMode,
        f"$umask: $d is ${unixMode(d)}%o, want $dirMode%o")
    } finally saved.fold(hconf.unset(FsPermission.UMASK_LABEL))(
      hconf.set(FsPermission.UMASK_LABEL, _))
  }
}
