package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.KgPipeline
import graft.sources.Tables

/** Driver-contract smoke + end-to-end pipeline invariants on the driver
  * tables (sf0.001).
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  test("entry(): flagship returns rows with the triple schema") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSet == Set("subj", "pred", "obj", "repo", "lang"))
    assert(df.count() > 0)
  }

  test("every registered query runs at sf0.001 and is non-empty unless disclaimed") {
    val mayBeEmpty = Set("dedup_jaccard", "dedup_lsh_pairs") // similarity thresholds
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("P6: a lang missing from the remap dim keeps its own value (left join + coalesce)") {
    // mirrors p6_label_remap's shape with a lang outside the dict: the
    // oracle CASE keeps it as-is, so the Spark side must not drop the row.
    val remap = Seq(("en", "en"), ("fr", "other")).toDF("lang", "lang_group")
    val docs = Seq((1L, "en"), (2L, "fr"), (3L, "xx")).toDF("doc_id", "lang")
    val got = docs.join(broadcast(remap), Seq("lang"), "left")
      .select(col("doc_id"), coalesce(col("lang_group"), col("lang")).as("lang_group"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "other", 3L -> "xx"))
  }

  test("S2 oracle escape chain == Spark to_json escaping on hostile values") {
    // the s2_ndjson_import oracle predicts entity_map_json with a SQL
    // replace-chain (backslash, quote, \n, \r, \t — Jackson's named
    // escapes); the fixture's lang/source are alphanumeric so the driver
    // gate never exercises it — pin the parity here on hostile values.
    def oracleEsc(x: String): String = x
      .replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    val hostiles = Seq("plain", "q\"uote", "back\\slash", "nl\nline",
      "cr\rret", "tab\there", "mix\\\"\n\t\r end")
    val got = hostiles.toDF("v")
      .select(to_json(map(lit("LOC"), array(col("v")))).as("j"))
      .as[String].collect().toSeq
    val want = hostiles.map(v => s"""{"LOC":["${oracleEsc(v)}"]}""")
    assert(got == want, s"to_json escaping diverged from the oracle chain:\n$got\n$want")
  }

  test("oracle SQL exists for every SQL-expressible query; names align") {
    val q = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(q))
    // round 2: EVERY query is oracle-checked — g1/g3/a4 via the splitter/
    // chunker SQL twins, ann_lsh/ann_ivf via seeded-literal twins,
    // mm_decode via the BMP-metadata prediction.
    assert(q -- SparkEntry.oracleSql.keySet == Set.empty[String])
  }

  test("corpus fingerprint: partition/order invariant, content-sensitive, distributed") {
    val docs = Fixtures.docsDf(120)
    val fp1 = graft.Main.corpusFingerprint(docs.repartition(7))
    val fp2 = graft.Main.corpusFingerprint(
      docs.repartition(3).orderBy(col("path").desc))
    assert(fp1 == fp2, "fingerprint must not depend on partitioning or row order")
    val mutated = docs.withColumn("content",
      when(col("path") === docs.select("path").first().getString(0),
        concat(col("content"), lit("x"))).otherwise(col("content")))
    assert(graft.Main.corpusFingerprint(mutated) != fp1,
      "a single-row content change must change the fingerprint")
    val dropped = docs.limit(119)
    assert(graft.Main.corpusFingerprint(dropped) != fp1,
      "row count folds into the fingerprint")
  }

  test("SparkSessionExtensions: graft.GraftExtensions exposes the native SQL functions") {
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      // reuses the existing SparkContext; extensions bind at construction
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val text = "Der Satz eins ist hier. Der Satz zwei auch. Ende."
      val out = s2.sql(
        s"SELECT chunk_sentences(split_sentences('$text'), 30) AS c")
        .collect().head.getSeq[String](0)
      assert(out == graft.operators.Chunker.chunkScalar(
        graft.operators.Splitter.splitScalar(text), 30))
      val row = s2.sql(
        "SELECT cleanup_text('a  b') AS c, normalize_mention('The Window') AS n, " +
          "dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "size(tag_mentions('the spark engine')) AS t")
        .collect().head
      assert(row.getString(0) == "a b" && row.getString(1) == "window")
      assert(row.getDouble(2) == 11.0 && row.getInt(3) == 1)
      // analysis-time input typing: int arrays implicitly cast to
      // array<double> instead of mis-reading int-backed ArrayData
      val cast = s2.sql("SELECT dot_product(array(1, 2), array(3, 4)) AS d")
        .collect().head.getDouble(0)
      assert(cast == 11.0, s"int-array input must cast, got $cast")
      // non-castable input fails analysis, not at runtime
      intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT dot_product('a', 'b')").collect()
      }
    } finally {
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
  }

  test("bench harness: a failing query is surfaced in the error map, not silently dropped") {
    // the r3 review item: a query that throws used to be recorded as -1 and
    // simply excluded from the sweep total, making a regression look FASTER.
    // runQueries must record the exception so the JSON can mark the sweep
    // invalid (errors_count / total_valid in the Bench output).
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(3).toDF("n")
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new RuntimeException("synthetic bench failure")
    val (times, errors) = Bench.runQueries(spark, dir,
      Seq("ok" -> ok, "boom" -> boom))
    val t = times.toMap
    assert(t("ok") >= 0.0)
    assert(t("boom") == -1.0)
    assert(errors.keySet == Set("boom"))
    assert(errors("boom").startsWith("java.lang.RuntimeException") &&
      errors("boom").contains("synthetic bench failure"), errors("boom"))
  }

  test("SQL surface conformance: every registered function casts/rejects per its inputTypes") {
    // table-driven sweep over all six GraftExtensions registrations: a
    // castable-but-inexact input must implicitly cast (ImplicitCastInputTypes
    // promise), a non-castable one must fail ANALYSIS — never reach runtime
    // with mis-typed ArrayData (the r2 dot_product int-array bug class).
    import org.apache.spark.sql.SparkSession
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val cases = Seq(
        // (function, casting call that must run, non-castable call)
        ("split_sentences", "size(split_sentences(42)) >= 0",
          "split_sentences(array('a'))"),
        ("cleanup_text", "cleanup_text(42) = '42'",
          "cleanup_text(array('a'))"),
        ("chunk_sentences", "size(chunk_sentences(array('a.'), 10L)) = 1",
          "chunk_sentences('not-an-array', 10)"),
        ("normalize_mention", "normalize_mention(42) = '42'",
          "normalize_mention(map('k', 'v'))"),
        ("dot_product", "dot_product(array(1, 2), array(3, 4)) = 11.0d",
          "dot_product('a', 'b')"),
        ("tag_mentions", "size(tag_mentions(42)) >= 0",
          "tag_mentions(array('a'))"))
      cases.foreach { case (name, valid, invalid) =>
        assert(s2.sql(s"SELECT $valid AS ok").collect().head.getBoolean(0),
          s"$name: casting call must run and produce the cast semantics")
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          s2.sql(s"SELECT $invalid").collect()
        }
        assert(e.getMessage != null, s"$name: $invalid must fail analysis")
      }
    } finally {
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
  }

  test("LocalDistinct: shuffle-free dedup ≡ global distinct on the flagship; contract pinned") {
    import graft.plans.LocalDistinct
    // flagship equivalence: the narrow-lineage co-partitioning argument
    // must make the custom operator row-identical to the exchange path
    val docs = Tables.docsDf(spark, dir)
    val local = KgPipeline.triples(spark, docs, sentenceLevel = true,
        assumeUniqueDocs = true)
      .as[(String, String, String, String, String)].collect().sorted.toSeq
    val global = KgPipeline.triples(spark, docs, sentenceLevel = true)
      .as[(String, String, String, String, String)].collect().sorted.toSeq
    assert(local == global && local.nonEmpty)

    // operator semantics: intra-partition duplicates removed...
    val one = spark.range(0, 100).select((col("id") % 5).as("v")).coalesce(1)
    assert(LocalDistinct.of(one).count() == 5)
    // ...cross-partition duplicates KEPT — the documented contract edge
    // (callers must guarantee co-partitioned duplicates; `triples` does
    // via the doc-PK + narrow-lineage argument)
    val spread = spark.range(0, 4).select(lit("dup").as("v")).repartition(4)
    assert(LocalDistinct.of(spread).count() > 1)

    // plan shape: the dedup itself inserts NO exchange (a global distinct
    // on the same relation plans one)
    val rel = docs.select("repo", "path")
    val plan = LocalDistinct.of(rel).queryExecution.executedPlan.toString
    assert(plan.contains("LocalDistinct"), plan)
    assert(!plan.contains("Exchange"),
      s"LocalDistinct must not exchange:\n$plan")
    assert(rel.distinct().queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "control: the global distinct on the same relation does exchange")
  }

  test("LocalDistinct: verify mode fails loudly on a violated contract; float/map schemas rejected") {
    import graft.plans.LocalDistinct
    // contract-check mode (spark.graft.localDistinct.verify): a
    // post-shuffle child scatters equal rows across partitions — the
    // count cross-check must throw instead of silently under-deduping
    spark.conf.set(LocalDistinct.verifyConfKey, "true")
    try {
      val spread = spark.range(0, 4).select(lit("dup").as("v")).repartition(4)
      val e = intercept[IllegalStateException] { LocalDistinct.of(spread) }
      assert(e.getMessage.contains("contract violated"), e.getMessage)
      // a contract-respecting child passes the same check
      val one = spark.range(0, 100).select((col("id") % 5).as("v")).coalesce(1)
      assert(LocalDistinct.of(one).count() == 5)
    } finally spark.conf.unset(LocalDistinct.verifyConfKey)

    // byte-wise row equality diverges from distinct() for floating point
    // (0.0 vs -0.0, NaN payloads) and maps (field order): such schemas are
    // rejected at call time, nested occurrences included
    val doubles = spark.range(2).select(col("id").cast("double").as("x"))
    assert(intercept[IllegalArgumentException] { LocalDistinct.of(doubles) }
      .getMessage.contains("x: double"))
    val nested = spark.range(2).select(array(col("id").cast("float")).as("xs"))
    assert(intercept[IllegalArgumentException] { LocalDistinct.of(nested) }
      .getMessage.contains("xs"))
    val maps = spark.range(2).select(map(lit("k"), col("id")).as("m"))
    assert(intercept[IllegalArgumentException] { LocalDistinct.of(maps) }
      .getMessage.contains("m: map"))
    // the concrete divergence the guard exists for: -0.0 vs 0.0 would
    // survive byte-wise dedup while distinct() merges them
    assert(Seq(0.0, -0.0).toDF("x").distinct().count() == 1)
  }

  test("sha256 row invariant holds on the driver table (north rule)") {
    val bad = Tables.documents(spark, dir)
      .select(sha2(col("text"), 256).as("spark_side"), col("text"))
      .as[(String, String)].collect()
      .filter { case (h, t) => h != graft.functions.Text.sha256HexScalar(t) }
    assert(bad.isEmpty)
  }

  test("canonicalized triples: obj is the component minimum; canon path non-empty") {
    val t = KgPipeline.triples(spark, Tables.docsDf(spark, dir), canonicalize = true)
    assert(t.count() > 0)
    // canonical ids must be drawn from the dictionary's entity ids
    val objs = t.select("obj").distinct().as[String].collect().toSet
    val known = graft.operators.Tagger.aliasDict.map(_.entity_id).toSet
    assert(objs.subsetOf(known))
  }

  test("Main.run: staged pipeline materializes triples and resumes from manifests") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val n1 = graft.Main.run(spark, dir, wh, canon = true)
    assert(n1 > 0)
    assert(graft.pipeline.Manifest.readManifest(spark, wh, "triples").isDefined)
    assert(graft.pipeline.Manifest.readManifest(spark, wh, "canon_map").isDefined)
    // second run: same corpus fingerprint -> resumes, same count, and the
    // triples manifest content is unchanged (no recompute/rewrite)
    val m1 = graft.pipeline.Manifest.readManifest(spark, wh, "triples").get
    val n2 = graft.Main.run(spark, dir, wh, canon = true)
    assert(n2 == n1)
    assert(graft.pipeline.Manifest.readManifest(spark, wh, "triples").get == m1)
  }

  /** The former `Main.corpusFingerprint`, a DataFrame global aggregate
    * (DECIMAL(38,0) slice sums, `concat_ws` over the count and the sums),
    * kept as the parity twin of the one-pass fold.
    */
  private def fingerprintTwin(docs: org.apache.spark.sql.DataFrame): String = {
    val rowHash = sha2(col("content"), 256)
    val slices = (0 until 4).map(i =>
      sum(conv(substring(rowHash, i * 16 + 1, 15), 16, 10)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("string").as(s"s$i"))
    docs.agg(count(lit(1)).cast("string").as("n"), slices: _*)
      .select(sha2(concat_ws("|",
        col("n") +: (0 until 4).map(i => col(s"s$i")): _*), 256))
      .collect()(0).getString(0)
  }

  test("corpus fingerprint == the DataFrame-aggregate twin, in one job (nulls, empty and 0 partitions)") {
    import org.apache.spark.sql.Row
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id INT, content STRING")
    val texts = Fixtures.docs(120).map(_.content)
    def rows(content: Int => String, n: Int) = (0 until n).map(i => Row(i, content(i)))
    val cases = Seq(
      ("1 partition", rows(texts, 120), 1),
      ("7 partitions", rows(texts, 120), 7),
      ("null content rows", rows(i => if (i % 3 == 0) null else texts(i), 120), 7),
      ("all-null content", rows(_ => null, 40), 7),
      ("empty partitions", rows(texts, 3), 7),
      ("0 partitions", Seq.empty[Row], 0))
    val failures = cases.flatMap { case (name, rs, parts) =>
      val rdd = if (parts == 0) spark.sparkContext.emptyRDD[Row]
        else spark.sparkContext.parallelize(rs, parts)
      val df = spark.createDataFrame(rdd, schema)
      assert(df.rdd.getNumPartitions == parts, name)
      val (fp, jobs) = Fixtures.jobsDuring(spark)(graft.Main.corpusFingerprint(df))
      Option.when(fp != fingerprintTwin(df))(s"$name: digest differs from the twin") ++
        Option.when(jobs.size != 1)(s"$name: ${jobs.size} jobs, want one pass in one job")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("Main.run: a fresh resume launches exactly one Spark job (the fingerprint scan)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val cold = graft.Main.run(spark, dir, wh, canon = true)
    assert(cold == spark.read.parquet(s"$wh/triples").count())
    val (n, jobs) = Fixtures.jobsDuring(spark)(graft.Main.run(spark, dir, wh, canon = true))
    assert(n == cold)
    assert(jobs.size == 1, s"a resume reads metadata only; got jobs $jobs")
  }

  test("Main.run: a fresh resume opens no upstream stage") {
    // Stages open on demand: with `triples` fresh, nothing reads (or
    // recomputes) the stages upstream of it, even when they are gone.
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val cold = graft.Main.run(spark, dir, wh, canon = true)
    val gone = Seq("docs", "mentions").map(s => new java.io.File(s"$wh/$s"))
    gone.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    val (n, jobs) = Fixtures.jobsDuring(spark)(graft.Main.run(spark, dir, wh, canon = true))
    assert(n == cold)
    assert(jobs.size == 1, s"a resume runs the fingerprint scan only; got jobs $jobs")
    assert(!gone.exists(_.exists), "a fresh resume re-created an upstream stage")
  }

  test("Main.run: a stale triples recomputes from its fresh inputs only") {
    import graft.pipeline.Manifest
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val cold = graft.Main.run(spark, dir, wh, canon = true)
    val before = Seq("triples", "links", "canon_map")
      .map(s => s -> Manifest.readManifest(spark, wh, s).get).toMap
    new java.io.File(Manifest.manifestPath(wh, "triples")).delete()
    val gone = Seq("docs", "mentions").map(s => new java.io.File(s"$wh/$s"))
    gone.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    assert(graft.Main.run(spark, dir, wh, canon = true) == cold)
    val after = before.keys.map(s => s -> Manifest.readManifest(spark, wh, s).get).toMap
    assert(after == before, "triples must be rewritten byte for byte, links and canon_map kept")
    assert(!gone.exists(_.exists), "a fresh input stage's own inputs were recomputed")
  }

  test("Tables.events: the declared schema is every sf table's, and a read launches no job") {
    // Covers every table, not only events: each reads through Tables.read.
    val root = new java.io.File(dir).getParent
    val reads = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "documents" -> Tables.documents, "lineitem" -> Tables.lineitem,
      "orders" -> Tables.orders, "customer" -> Tables.customer,
      "nation" -> Tables.nation, "events" -> Tables.events,
      "embeddings" -> Tables.embeddings)
    assert(reads.map(_._1).toSet == Tables.schemas.keySet)
    val failures = reads.flatMap { case (table, read) =>
      val drift = Seq("sf0.001", "sf0.01", "sf0.1").flatMap { sf =>
        val inferred = spark.read.parquet(s"$root/$sf/$table.parquet").schema
        Option.when(inferred != Tables.schemas(table))(s"$sf/$table: ${inferred.toDDL}")
      }
      val (df, jobs) = Fixtures.jobsDuring(spark)(read(spark, dir))
      drift ++ Option.when(jobs.nonEmpty)(s"the $table read inferred its schema: $jobs") ++
        Option.when(df.count() != spark.read.parquet(s"$dir/$table.parquet").count())(
          s"$table: row count differs")
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("Main.parseArgs: <sfDir> <warehouseDir> [--canon], anything else fails with the usage") {
    import graft.Main.parseArgs
    assert(parseArgs(Seq("sf", "wh")) == (("sf", "wh", false)))
    assert(parseArgs(Seq("sf", "wh", "--canon")) == (("sf", "wh", true)))
    Seq(Seq(), Seq("sf"), Seq("sf", "wh", "--Canon"), Seq("sf", "wh", "-canon"),
        Seq("sf", "wh", "canon"), Seq("sf", "wh", "--canon", "x"),
        Seq("--canon", "sf", "wh"), Seq("--canon", "sf"), Seq("sf", "--canon"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](parseArgs(args))
        assert(e.getMessage == graft.Main.usage, args.mkString(" "))
      }
  }

  test("Measure.parseArgs: time / plans / audit / cc, anything else fails with the usage") {
    import graft.tools.Measure._
    assert(parseArgs(Seq("time", "sf", "q1")) == Time("sf", Seq("q1")))
    assert(parseArgs(Seq("time", "sf", "q1", "q2")) == Time("sf", Seq("q1", "q2")))
    assert(parseArgs(Seq("plans", "sf", "kg_triples")) == Plans("sf", Seq("kg_triples")))
    assert(parseArgs(Seq("audit", "sf")) == Audit("sf"))
    assert(parseArgs(Seq("cc")) == Cc(6000000L, 2048L, "chain"))
    assert(parseArgs(Seq("cc", "3000000")) == Cc(3000000L, 2048L, "chain"))
    assert(parseArgs(Seq("cc", "3000000", "64")) == Cc(3000000L, 64L, "chain"))
    assert(parseArgs(Seq("cc", "3000000", "64", "star")) == Cc(3000000L, 64L, "star"))
    Seq(Seq(), Seq("sf", "q1"), Seq("Time", "sf", "q1"), Seq("profile", "sf"),
        Seq("time"), Seq("time", "sf"), Seq("plans", "sf"), Seq("time", "-sf", "q1"),
        Seq("audit"), Seq("audit", "sf", "extra"), Seq("audit", "--sf"),
        Seq("cc", "3e6"), Seq("cc", "many"), Seq("cc", "3000000", "big"),
        Seq("cc", "3000000", "1"), Seq("cc", "3000000", "64", "ring"),
        Seq("cc", "3000000", "64", "star", "x"))
      .foreach { args =>
        val e = intercept[IllegalArgumentException](parseArgs(args))
        assert(e.getMessage == usage, args.mkString(" "))
      }
  }

  test("Main.sessionConf: a submitted master and partition count win; a bare run gets the defaults") {
    import org.apache.spark.SparkConf
    val submitted = new SparkConf(false)
      .set("spark.master", "local-cluster[2,1,1024]")
      .set("spark.sql.shuffle.partitions", "7")
    val c = graft.Main.sessionConf(submitted, Map("SPARK_GRAFT_CPUS" -> "4"))
    assert(c.get("spark.master") == "local-cluster[2,1,1024]")
    assert(c.get("spark.sql.shuffle.partitions") == "7")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(!submitted.contains("spark.app.name"), "the submitted conf is not mutated")
    val bare = graft.Main.sessionConf(new SparkConf(false), Map.empty)
    assert(bare.get("spark.master") == "local[32]")
    assert(bare.get("spark.sql.shuffle.partitions") == "32")
    assert(bare.get("spark.app.name") == "graft-kg-pipeline")
    assert(bare.get("spark.sql.session.timeZone") == "UTC")
    val env = graft.Main.sessionConf(new SparkConf(false),
      Map("SPARK_GRAFT_CPUS" -> "4", "SPARK_GRAFT_MASTER" -> "local[2]"))
    assert(env.get("spark.master") == "local[2]")
    assert(env.get("spark.sql.shuffle.partitions") == "4")
  }

  test("S2: reference ndjson cache import (README.md:78-80 lines)") {
    val f = java.nio.file.Files.createTempFile("cache", ".ndjson")
    java.nio.file.Files.writeString(f,
      """{"die Kinder von Anton Schwarz haben in Dresden eine Wohnung.": {"PERSON": ["Anton Schwarz"], "GPE": ["Dresden"]}}
        |{"In dem Buch Traumwerkstadt wird die Wohnung beschrieben.": {"WORK_OF_ART": ["Traumwerkstadt"]}}
        |""".stripMargin)
    val got = graft.operators.TagCache.importReferenceNdjson(spark, f.toString)
      .select("sentence", "entity_map")
      .as[(String, Map[String, Seq[String]])].collect().toMap
    assert(got.size == 2)
    assert(got("In dem Buch Traumwerkstadt wird die Wohnung beschrieben.") ==
      Map("WORK_OF_ART" -> Seq("Traumwerkstadt")))
    assert(got.keys.forall(s =>
      graft.functions.Text.sha256HexScalar(s).nonEmpty))
  }

  test("U3: tagger parameterized by a custom pattern set; classifier twin labels docs") {
    import graft.operators.Tagger
    val docs = Seq((1L, "alpha beta alpha")).toDF("doc_id", "t")
    val custom = Tagger.tagMentionsWith(Seq(Tagger.Pattern("X", "\\balpha\\b", 0.9)))(
      docs, "t")
    assert(custom.select("mention").as[String].collect().toSeq == Seq("alpha", "alpha"))
    val lab = Tagger.classify(
      Seq((1L, "fast fast slow query")).toDF("doc_id", "t"), "t")
      .select("value").as[String].collect().sorted
    assert(lab.toSeq == Seq("NEGATIV", "OTHER", "POSITIV", "POSITIV"))
  }

  test("degenerate inputs: null/empty/whitespace/punct-only content flow through cleanly") {
    val weird = Seq(
      ("r", "p0", "c0", "en", null.asInstanceOf[String]),
      ("r", "p1", "c1", "en", ""),
      ("r", "p2", "c2", "en", "   \n\t  "),
      ("r", "p3", "c3", "en", "...!!!???"),
      ("r", "p4", "c4", "de", "spark"), // single gazetteer word, no sentence end
      ("r", "p5", "c5", "en", "­")) // lone soft hyphen
      .toDF("repo", "path", "commit", "lang", "content")
    // none of these may throw; only p4 links
    val t = KgPipeline.triples(spark, weird)
      .as[graft.model.Triple].collect()
    assert(t.map(_.subj).toSet == Set("r/p4@c4"))
    assert(t.head.obj == "E02" && t.head.pred == "mentions:ORG")
    val sents = KgPipeline.sentences(weird).count()
    assert(sents == 2) // only the punct-only and 'spark' rows yield sentences

    // chunker: null content drops (posexplode of null — the oracle's
    // length(NULL) filter agrees); a long all-whitespace text packs the
    // reference's [""] into one empty chunk
    val chunks = graft.operators.Chunker.explodeChunks(weird, maxNoSplit = 4)
      .select("path", "chunk_idx", "chunk")
      .as[(String, Int, String)].collect().toSeq
    assert(!chunks.exists(_._1 == "p0"), "null content yields no chunk rows")
    assert(chunks.filter(_._1 == "p2") == Seq(("p2", 0, "")),
      "sentence-less long text packs to one empty chunk (parts=[\"\"])")
    assert(chunks.exists(c => c._1 == "p1" && c._3 == ""))
  }

  test("Bench.replayGates names real queries (a rename must not silently re-add warmup cost)") {
    // skipWarmup matches by name: a renamed gate absent from this set
    // would quietly run its full replay twice per sweep again (~35 s,
    // BENCH.md §39) with nothing flagging the drift
    val unknown = Bench.replayGates.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"replayGates not in SparkEntry.queries: $unknown")
  }

  test("sentence-level pipeline == doc-level pipeline on the driver corpus") {
    // chunk granularity vanishes in the group-by (A4, ner.py:196-203):
    // driver docs have no sentence punctuation, so both paths agree exactly
    val docLevel = KgPipeline.triples(spark, Tables.docsDf(spark, dir))
      .as[graft.model.Triple].collect().toSet
    val sentLevel = KgPipeline.triples(spark, Tables.docsDf(spark, dir),
        sentenceLevel = true)
      .as[graft.model.Triple].collect().toSet
    assert(docLevel == sentLevel)
  }
}
