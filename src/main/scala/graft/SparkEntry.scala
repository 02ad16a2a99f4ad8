package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Text
import graft.operators._
import graft.pipeline.KgPipeline
import graft.sources.Tables

/** Driver contract (SURVEY.md §7): one `queries` entry per implemented
  * operator of SURVEY.md §2, each with DuckDB-equivalent oracle SQL where
  * SQL-expressible. Oracle SQL is GENERATED from the same Scala constants
  * (patterns, dictionaries, marker lists) that drive the Spark plans —
  * single source of truth, no drift.
  *
  * Cross-engine determinism rules applied throughout:
  *  - double aggregation goes through exact decimal sums (order-independent)
  *    and is cast to double at the end;
  *  - per-row double arithmetic keeps identical operand order (IEEE-stable);
  *  - regexes stay in the Java∩RE2 shared dialect;
  *  - outputs avoid arrays/maps/timestamps (strings, longs, doubles only)
  *    and are totally ordered by a unique key.
  */
object SparkEntry {

  final case class QuerySpec(
      name: String,
      impl: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // ---------------------------------------------------------------------
  // Shared SQL fragments (DuckDB dialect), generated from engine constants.
  // ---------------------------------------------------------------------

  /** The cleaned-docs relation restricted to the documents satisfying
    * `pred` — the stream_kg twin slices the corpus per micro-batch with it.
    */
  private def cleanedRelWhere(pred: String): String =
    s"(SELECT doc_id, lang, source, text, ${Text.cleanupSqlDuck("text")} AS cleaned " +
      s"FROM documents WHERE $pred)"

  /** The full cleaned-docs relation — ONE body with [[cleanedRelWhere]]
    * (a second copy of the projection would let the two drift apart).
    */
  private val cleanedRel: String = cleanedRelWhere("TRUE")

  /** Micro-batch count of the stream_kg gate (doc_id % this = batch key,
    * shared by the Spark feed and the twin's slice predicates).
    */
  private val streamKgBatches = 3

  /** The kg_triples twin body (no ORDER BY), parameterized by the cleaned
    * docs relation: kg_triples runs it over the full corpus, stream_kg
    * once per micro-batch slice. Output columns: subj, pred, obj, repo,
    * lang — all VARCHAR (audit whitelist).
    */
  private def kgTriplesDuckBody(rel: String): String = {
    val subj = "source || '/docs/' || CAST(doc_id AS VARCHAR) || '.txt@' || " +
      "substr(sha256(source || '/' || CAST(doc_id AS VARCHAR)), 1, 40)"
    s"""WITH t AS (SELECT doc_id, lang, source, label, confidence, mention FROM
      |  ${Tagger.tagSqlDuck(Seq("doc_id", "lang", "source"), "cleaned", s"$rel c")} x),
      |m AS (SELECT DISTINCT doc_id, lang, source, label, mention FROM t WHERE confidence >= $thr),
      |n AS (SELECT *, ${Lemmatizer.normalizeSqlDuck("mention")} AS mention_norm FROM m),
      |cand AS (SELECT n.doc_id, n.lang, n.source, n.label, n.mention, d.entity_id,
      |  d.prior + CASE WHEN n.lang = d.pref_lang THEN CAST(${Tagger.langBonus} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS score
      |  FROM n JOIN ${Tagger.aliasSqlDuck} d ON n.mention_norm = d.alias_norm
      |  WHERE length(n.mention_norm) > 0),
      |links AS (SELECT doc_id, lang, source, label, entity_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id, mention, label ORDER BY score DESC, entity_id) AS rn FROM cand) w
      |  WHERE rn = 1),
      |dedup AS (SELECT DISTINCT doc_id, lang, source, label, entity_id FROM links)
      |SELECT $subj AS subj, 'mentions:' || label AS pred, entity_id AS obj,
      |  source AS repo, lang
      |FROM dedup""".stripMargin
  }

  private def taggedRel: String =
    Tagger.tagSqlDuck(Seq("doc_id", "lang"), "cleaned", s"$cleanedRel c")

  private val thr = Tagger.threshold

  /** Scale-adaptive parallelism floor for expensive 1:1 per-doc stages
    * (the real-codec mm_* decodes): the fixture `documents` table is ONE
    * tiny parquet file = one input split, so a decode lineage with no
    * intermediate exchange runs ALL its per-row codec work in a single
    * task. On the WRITE/dump path the final ORDER BY's range-partitioner
    * sampling pass executes that serial lineage a SECOND time before the
    * exchange recomputes it (noop-sink timing reads ~1.9x the count-action
    * timing, whose optimized plan drops the sort — both measured,
    * OPTIMIZATION_r08.md / graft.tools.Measure). Spreading the base rows
    * round-robin across the app's cores parallelizes every pass either
    * action runs (mm_video ~2.2x under count, ~3.6x under noop); the
    * exchange moves only the narrow (doc_id, text) scan output, the
    * smallest relation in those lineages. CONDITIONAL on the scan arriving
    * under the app's parallelism: a many-file production media table
    * inherits its splits and skips the exchange entirely, so this is a
    * parallelism FLOOR, not a local-mode constant (guide §2.5 "input skew:
    * one huge unsplittable file — repartition immediately after the
    * read").
    */
  private def spreadDocs(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  // Spark-side cleaned documents (doc_id, lang, source, cleaned)
  private def cleanedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        Text.cleanup(col("text")).as("cleaned"))

  // Hot-band fixture for the LSH cap gates (dedup_overflow /
  // dedup_lsh_capped): the cleaned corpus plus `hotBandCopies`
  // byte-identical copies of doc 1's cleaned text under fresh doc ids —
  // identical text gives identical MinHash minima, so the copies share all
  // four band keys and push each band past the PRODUCTION cap
  // (Dedup.maxBucket = 64). This is the boilerplate-duplication regime the
  // cap exists for, synthesized deterministically at fixture scale.
  private val hotBandCopies = Dedup.maxBucket + 6
  private val hotBandIdBase = 1000000L

  // O2's K. At sf0.01 the four newest UTC days hold 1,335 events and the
  // fifth 326, so the cut lands inside that day: 1,335 rows come from
  // retention's full-stamp branch and 165 from its tie-break branch.
  private val retentionKeep = 1500

  private def hotBandCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = cleanedDocs(s, dir).select("doc_id", "cleaned")
    val boiler = base.filter(col("doc_id") === 1)
      .select(explode(sequence(lit(0L), lit(hotBandCopies - 1L))).as("r"),
        col("cleaned"))
      .select((col("r") + hotBandIdBase).as("doc_id"), col("cleaned"))
    base.unionByName(boiler)
  }

  private def hotBandRel: String =
    s"""(SELECT doc_id, cleaned FROM $cleanedRel c0
      |  UNION ALL
      |  SELECT $hotBandIdBase + t.r AS doc_id, b.cleaned
      |  FROM (SELECT cleaned FROM $cleanedRel cb WHERE doc_id = 1) b,
      |       range(0, $hotBandCopies) t(r))""".stripMargin

  // Spark-side tagged mentions (doc_id, lang, label, confidence, mention)
  private def taggedMentions(s: SparkSession, dir: String): DataFrame =
    Tagger.tagMentions(
      cleanedDocs(s, dir).select("doc_id", "lang", "cleaned"), "cleaned")

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  // Shared by j3_canon and j3_canon_dist — the two registry entries must
  // stay the SAME computation (only the driver-graph guard differs), so
  // both the Spark builder and the recursive-CTE oracle live here once.
  private def canonQuery(s: SparkSession, dir: String): DataFrame = {
    val linked = Linker.link(s,
      taggedMentions(s, dir).filter(col("confidence") >= thr)
        .select("doc_id", "lang", "mention")
        .distinct(),
      Seq("doc_id"))
    KgPipeline.canonMap(s, linked, Seq("doc_id")).orderBy("entity_id")
  }

  private def canonSqlDuck: String =
    s"""WITH RECURSIVE m AS (SELECT DISTINCT doc_id, lang, mention FROM $taggedRel t WHERE confidence >= $thr),
      |n AS (SELECT doc_id, lang, mention, ${Lemmatizer.normalizeSqlDuck("mention")} AS mention_norm FROM m),
      |cand AS (SELECT n.doc_id, n.mention, d.entity_id,
      |  d.prior + CASE WHEN n.lang = d.pref_lang THEN CAST(${Tagger.langBonus} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS score
      |  FROM n JOIN ${Tagger.aliasSqlDuck} d ON n.mention_norm = d.alias_norm
      |  WHERE length(n.mention_norm) > 0),
      |links AS (SELECT doc_id, entity_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id, mention ORDER BY score DESC, entity_id) AS rn FROM cand) w
      |  WHERE rn = 1),
      |perdoc AS (SELECT DISTINCT doc_id, entity_id FROM links),
      |pairs AS (SELECT DISTINCT a.entity_id AS s, b.entity_id AS d FROM perdoc a
      |  JOIN perdoc b ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id),
      |edges AS (SELECT s, d FROM pairs UNION SELECT d, s FROM pairs),
      |nodes AS (SELECT DISTINCT entity_id AS nd FROM links),
      |reach(nd, lbl) AS (SELECT nd, nd FROM nodes
      |  UNION SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.nd)
      |SELECT nd AS entity_id, min(lbl) AS canon_id FROM reach GROUP BY nd ORDER BY entity_id""".stripMargin

  // Bucketed-cache fixture state for j1_bucketed_cache: (appId -> fixture
  // dir) already built this session. Building is expensive relative to the
  // probe join the gate exists to showcase, so repeated executions (bench
  // reps, Verify dump + count) reuse the session's table.
  private val bucketedCacheBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build the bucketed cache table for `dir` once per session. The
    * external path is keyed by the Spark application id: concurrent apps
    * (a Verify dump during a Bench sweep) must not clobber each other's
    * table data; /dev/shm keeps the write off the jittery /tmp virtio
    * disk the bench protocol avoids for shuffle. Each dir has a SIBLING
    * liveness marker `<dir>.pid` holding the owning JVM's pid, written
    * BEFORE the table build starts (a marker inside the dir would appear
    * only after the multi-second build completes — a window in which a
    * concurrent app's sweep would see the dir as ownerless and delete it
    * mid-write). The sweep removes only dirs whose owner is PROVABLY
    * dead (pid no longer in /proc — sound on this single box; a real
    * cluster would put the table on shared storage with catalog-managed
    * lifecycle), never a live app's table out from under its catalog
    * entry. On every REUSE the owner re-touches its marker and dir (and
    * verifies the table files still exist, rebuilding if a sweep got
    * them): without the touch, a session outliving the sweep's 12h mtime
    * cap would keep serving a catalog entry whose files a concurrent
    * app's sweep deleted.
    */
  private def ensureBucketedCache(s: SparkSession, dir: String): Unit =
    bucketedCacheBuilt.synchronized {
      val appId = s.sparkContext.applicationId
      val tablePath = new java.io.File(s"/dev/shm/graft_bucketed_cache_$appId")
      if (bucketedCacheBuilt.get(appId) == dir && tablePath.exists()) {
        val now = System.currentTimeMillis
        new java.io.File(tablePath.getPath + ".pid").setLastModified(now)
        tablePath.setLastModified(now)
      } else {
        bucketedCacheBuilt.remove(appId)
        val base = new java.io.File("/dev/shm")
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete()
        }
        // Sweep rules, safest-first: an EXISTING-but-unreadable marker is
        // treated as a live owner (a transient read failure is not proof
        // of death — deleting a live app's table under its catalog entry
        // is the one unacceptable outcome); a missing marker or dead pid
        // only qualifies after a 1h idle grace (covers pre-marker-era
        // dirs and any claim/create window); and a generous 12h mtime
        // cap bounds tmpfs growth even when pid recycling makes a dead
        // owner look alive (bench/verify sessions run minutes, not
        // hours). Orphan markers whose dir is gone age out the same way.
        val now = System.currentTimeMillis
        def idleFor(f: java.io.File, ms: Long): Boolean =
          f.lastModified < now - ms
        Option(base.listFiles()).getOrElse(Array.empty)
          .filter { f =>
            f.getName.startsWith("graft_bucketed_cache_") &&
              !f.getName.endsWith(".pid") && {
                val marker = new java.io.File(base, f.getName + ".pid")
                val alive =
                  if (!marker.exists()) false
                  else (try {
                    val src = scala.io.Source.fromFile(marker)
                    val pid = try src.mkString.trim finally src.close()
                    pid.nonEmpty && new java.io.File(s"/proc/$pid").exists()
                  } catch { case _: Exception => true }) // unreadable -> live
                // the 12h arm requires the MARKER stale too: a live owner
                // re-touches it on every reuse, so only sessions that have
                // genuinely stopped using the table (or died with a
                // recycled pid) age out
                (!alive && idleFor(f, 3600_000L)) ||
                  (idleFor(f, 12 * 3600_000L) &&
                    idleFor(marker, 12 * 3600_000L))
              }
          }
          .foreach { f =>
            rm(f)
            new java.io.File(base, f.getName + ".pid").delete()
          }
        Option(base.listFiles()).getOrElse(Array.empty)
          .filter(m => m.getName.startsWith("graft_bucketed_cache_") &&
            m.getName.endsWith(".pid") &&
            !new java.io.File(base, m.getName.stripSuffix(".pid")).exists() &&
            idleFor(m, 12 * 3600_000L))
          .foreach(_.delete())
        val path = s"/dev/shm/graft_bucketed_cache_$appId"
        // claim ownership BEFORE building: the marker must exist for the
        // entire window in which the table dir is partially written
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$path.pid"),
          java.lang.ProcessHandle.current().pid().toString.getBytes("UTF-8"))
        val cache = Tables.documents(s, dir)
          .filter(col("doc_id") % 3 === 0)
          .groupBy(Text.sha256Hex(col("text")).as("k"))
          .agg(min(col("doc_id")).as("cached_doc"))
        s.sql("DROP TABLE IF EXISTS graft_bucketed_cache")
        rm(new java.io.File(path))
        TagCache.writeBucketedCache(cache, "graft_bucketed_cache", path)
        bucketedCacheBuilt.put(appId, dir)
      }
    }

  // ---------------------------------------------------------------------
  // The registry.
  // ---------------------------------------------------------------------

  val registry: Seq[QuerySpec] = Seq(

    // ---- P1: cleanup (sentsplitter.py:10-18) ---------------------------
    QuerySpec("p1_cleanup",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), Text.cleanup(col("text")).as("cleaned"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${Text.cleanupSqlDuck("text")} AS cleaned " +
        "FROM documents ORDER BY doc_id")),

    // ---- P2: PUA codepoint strip (notebook cell 3) ---------------------
    QuerySpec("p2_pua_strip",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), Text.puaStrip(col("text")).as("stripped"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${Text.puaStripSqlDuck("text")} AS stripped " +
        "FROM documents ORDER BY doc_id")),

    // ---- P3: dateline strip (notebook cell 3) --------------------------
    QuerySpec("p3_dateline",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), Text.datelineStrip(col("text")).as("body"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${Text.datelineStripSqlDuck("text")} AS body " +
        "FROM documents ORDER BY doc_id")),

    // ---- P4: confidence threshold (middleware.py:59-63, >= 0.95) -------
    QuerySpec("p4_threshold",
      (s, dir) => taggedMentions(s, dir)
        .filter(col("confidence") >= thr)
        .select("doc_id", "label", "mention", "confidence")
        .orderBy("doc_id", "label", "mention"),
      Some(s"SELECT doc_id, label, mention, confidence FROM $taggedRel t " +
        s"WHERE confidence >= $thr ORDER BY doc_id, label, mention")),

    // ---- P5: language filter (notebook cell 6) -------------------------
    QuerySpec("p5_lang_filter",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("lang").isin("de", "en"))
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("SELECT doc_id, lang FROM documents WHERE lang IN ('de','en') " +
        "ORDER BY doc_id")),

    // ---- P6: label remap via broadcast dimension (notebook cell 6) -----
    QuerySpec("p6_label_remap",
      (s, dir) => {
        import s.implicits._
        val remap = Seq(("en", "en"), ("de", "de"), ("fr", "other"),
          ("es", "other"), ("zh", "other")).toDF("lang", "lang_group")
        // LEFT join + coalesce, mirroring the oracle CASE's else-branch: a
        // lang absent from the remap dim keeps its own value instead of
        // dropping the row (the inner-join formulation was green only
        // because the fixture's langs happen to cover the dict exactly).
        Tables.documents(s, dir).select("doc_id", "lang")
          .join(broadcast(remap), Seq("lang"), "left")
          .select(col("doc_id"),
            coalesce(col("lang_group"), col("lang")).as("lang_group"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, CASE WHEN lang IN ('fr','es','zh') THEN 'other' " +
        "ELSE lang END AS lang_group FROM documents ORDER BY doc_id")),

    // ---- P7: content hashing (cacheServer.py:34; sha256 row invariant) -
    QuerySpec("p7_sha256",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), Text.sha256Hex(col("text")).as("content_sha"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${Text.sha256SqlDuck("text")} AS content_sha " +
        "FROM documents ORDER BY doc_id")),

    // ---- G1: sentence split + posexplode (sentsplitter.py:20-29) -------
    // The oracle is a full DuckDB twin of the splitter generated from the
    // same constants (Splitter.splitSqlDuck) — the boundary rules, abbrev
    // set, and roman-numeral quirk are all cross-engine-checked, not just
    // the row count.
    QuerySpec("g1_split",
      (s, dir) => Splitter.explodeSentences(Tables.docsDf(s, dir))
        .select("repo", "path", "sent_idx", "sentence")
        .orderBy("repo", "path", "sent_idx"),
      Some {
        val rel = Splitter.splitSqlDuck(Seq("repo", "path"), "text",
          "(SELECT source AS repo, 'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS path, text " +
            "FROM documents) d")
        s"SELECT repo, path, sent_idx, sentence FROM $rel s " +
          "ORDER BY repo, path, sent_idx"
      }),

    // ---- G3: greedy re-chunking (ner.py:183-192, exact incl. overshoot) -
    QuerySpec("g3_chunk",
      (s, dir) => Chunker.explodeChunks(
          Tables.documents(s, dir).withColumnRenamed("text", "content"),
          maxNoSplit = 200)
        .select("doc_id", "chunk_idx", "chunk")
        .orderBy("doc_id", "chunk_idx"),
      Some {
        val rel = Chunker.chunkSqlDuck(Seq("doc_id"), "text", "documents", 200)
        s"SELECT doc_id, chunk_idx, chunk FROM $rel ch ORDER BY doc_id, chunk_idx"
      }),

    // ---- G4: deterministic tagger (modelServer.py:65-79 replacement) ----
    QuerySpec("g4_tag",
      (s, dir) => taggedMentions(s, dir)
        .select("doc_id", "label", "confidence", "mention")
        .orderBy("doc_id", "label", "mention"),
      Some(s"SELECT doc_id, label, confidence, mention FROM $taggedRel t " +
        "ORDER BY doc_id, label, mention")),

    // ---- G4 (span-true): entity extraction WITH character spans ---------
    // The reference emits start_pos/end_pos (modelServer.py:65-79); this
    // checks the span-bearing UDF path against a DuckDB simulation of the
    // Java-regex scan (candidate positions + recursive cursor walk).
    QuerySpec("g4_spans",
      (s, dir) => cleanedDocs(s, dir)
        .select(col("doc_id"),
          explode(Tagger.tagSpansCol(s, col("cleaned"))).as("e"))
        .select(col("doc_id"), col("e.label").as("label"),
          col("e.confidence").as("confidence"),
          col("e.text").as("mention"),
          col("e.begin").cast("long").as("begin_pos"),
          col("e.end").cast("long").as("end_pos"))
        .orderBy("doc_id", "begin_pos", "label", "mention"),
      Some {
        val rel = Tagger.tagSpansSqlDuck(Seq("doc_id"), "cleaned", s"$cleanedRel c")
        s"SELECT doc_id, label, confidence, mention, begin_pos, end_pos " +
          s"FROM $rel sp ORDER BY doc_id, begin_pos, label, mention"
      }),

    // ---- G5: lemma/article-drop normalization (middlewareServer.py:90-131)
    QuerySpec("g5_lemma",
      (s, dir) => taggedMentions(s, dir)
        .filter(col("confidence") >= thr)
        .select("doc_id", "mention").distinct()
        .withColumn("mention_norm", Lemmatizer.normalizeMention(col("mention")))
        .orderBy("doc_id", "mention"),
      Some(s"SELECT DISTINCT doc_id, mention, " +
        s"${Lemmatizer.normalizeSqlDuck("mention")} AS mention_norm " +
        s"FROM $taggedRel t WHERE confidence >= $thr " +
        "ORDER BY doc_id, mention")),

    // ---- A1: group-by-label entity dedup (middleware.py:45-69) ----------
    QuerySpec("a1_entity_map",
      (s, dir) => taggedMentions(s, dir)
        .filter(col("confidence") >= thr)
        .groupBy("doc_id", "label")
        .agg(concat_ws(",", array_sort(collect_set(col("mention"))))
          .as("entities"))
        .orderBy("doc_id", "label"),
      Some(s"SELECT doc_id, label, " +
        "string_agg(DISTINCT mention, ',' ORDER BY mention) AS entities " +
        s"FROM $taggedRel t WHERE confidence >= $thr " +
        "GROUP BY doc_id, label ORDER BY doc_id, label")),

    // ---- A1 (real shape): the reference's actual API result — a
    // map<label, array<mention>> per doc (README.md:74) — serialized with
    // sorted keys and sorted value arrays so the JSON string is
    // deterministic; DuckDB builds the identical string by hand (same
    // escaping: backslash, then quote).
    QuerySpec("a1_entity_map_json",
      (s, dir) => Middleware.entityMap(
          taggedMentions(s, dir)
            .select("doc_id", "label", "mention", "confidence"),
          Seq("doc_id"))
        .select(col("doc_id"), to_json(col("entity_map")).as("entity_map_json"))
        .orderBy("doc_id"),
      Some {
        def esc(x: String) =
          s"replace(replace($x, '\\', '\\\\'), '\"', '\\\"')"
        s"""WITH f AS (SELECT DISTINCT doc_id, label, mention FROM $taggedRel t WHERE confidence >= $thr),
          |g AS (SELECT doc_id, label,
          |  string_agg('"' || ${esc("mention")} || '"', ',' ORDER BY mention) AS elems
          |  FROM f GROUP BY doc_id, label)
          |SELECT doc_id, '{' || string_agg('"' || ${esc("label")} || '":[' || elems || ']', ',' ORDER BY label) || '}' AS entity_map_json
          |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // ---- A2: sentiment aggregate (middleware.py:14-43) ------------------
    // Exact decimal sums (order-independent), cast to double at the end.
    QuerySpec("a2_sentiment",
      (s, dir) => {
        val pos = Seq("click", "purchase")
        val neg = Seq("error")
        val e = Tables.events(s, dir)
        val signed = when(col("event_type").isin(pos: _*), dec(col("value")))
          .when(col("event_type").isin(neg: _*), -dec(col("value")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))
        val known = when(col("event_type").isin(pos ++ neg: _*), 1L).otherwise(0L)
        e.groupBy("user_id")
          .agg((sum(signed).cast("double") / nullif(sum(known), lit(0L)))
            .as("score"))
          .orderBy("user_id")
      },
      Some("SELECT user_id, CAST(sum(CASE " +
        "WHEN event_type IN ('click','purchase') THEN CAST(value AS DECIMAL(18,2)) " +
        "WHEN event_type IN ('error') THEN -CAST(value AS DECIMAL(18,2)) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / " +
        "nullif(sum(CASE WHEN event_type IN ('click','purchase','error') " +
        "THEN 1 ELSE 0 END), 0) AS score " +
        "FROM events GROUP BY user_id ORDER BY user_id")),

    // ---- A2 + U3: doc-level sentiment over the deterministic classifier -
    // (flair TextClassifier twin; reference positive/negative defaults from
    // nerapi.py:79-84 feed middleware.py:14-43)
    QuerySpec("a2_sentiment_docs",
      (s, dir) => {
        val pos = Seq("POSITIV", "OTHER")
        val neg = Seq("NEGATIV", "OFFENSE")
        val labeled = Tagger.classify(
          cleanedDocs(s, dir).select("doc_id", "cleaned"), "cleaned")
        val signed = when(col("value").isin(pos: _*), dec(col("confidence")))
          .when(col("value").isin(neg: _*), -dec(col("confidence")))
          .otherwise(lit(0).cast(DecimalType(18, 2)))
        val known = when(col("value").isin(pos ++ neg: _*), 1L).otherwise(0L)
        labeled.groupBy("doc_id")
          .agg((sum(signed).cast("double") / nullif(sum(known), lit(0L)))
            .as("score"))
          .orderBy("doc_id")
      },
      Some {
        val lab = Tagger.classifySqlDuck(Seq("doc_id"), "cleaned", s"$cleanedRel c")
        "SELECT doc_id, CAST(sum(CASE " +
          "WHEN value IN ('POSITIV','OTHER') THEN CAST(confidence AS DECIMAL(18,2)) " +
          "WHEN value IN ('NEGATIV','OFFENSE') THEN -CAST(confidence AS DECIMAL(18,2)) " +
          "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / " +
          "nullif(sum(CASE WHEN value IN ('POSITIV','OTHER','NEGATIV','OFFENSE') " +
          "THEN 1 ELSE 0 END), 0) AS score " +
          s"FROM $lab t GROUP BY doc_id ORDER BY doc_id"
      }),

    // ---- A4: chunk-result merge (ner.py:196-203) -------------------------
    QuerySpec("a4_merge",
      (s, dir) => {
        val chunked = Chunker.explodeChunks(
          Tables.documents(s, dir).withColumnRenamed("text", "content"),
          maxNoSplit = 200)
        Tagger.tagMentions(
            chunked.select(col("doc_id"), Text.cleanup(col("chunk")).as("chunk")),
            "chunk")
          .filter(col("confidence") >= thr)
          .groupBy("doc_id", "label")
          .agg(concat_ws(",", array_sort(collect_set(col("mention"))))
            .as("entities"))
          .orderBy("doc_id", "label")
      },
      Some {
        val chunkRel = Chunker.chunkSqlDuck(Seq("doc_id"), "text", "documents", 200)
        val cl = s"(SELECT doc_id, ${Text.cleanupSqlDuck("chunk")} AS cleaned " +
          s"FROM $chunkRel ch) cc"
        val tag = Tagger.tagSqlDuck(Seq("doc_id"), "cleaned", cl)
        s"SELECT doc_id, label, " +
          "string_agg(DISTINCT mention, ',' ORDER BY mention) AS entities " +
          s"FROM $tag t WHERE confidence >= $thr " +
          "GROUP BY doc_id, label ORDER BY doc_id, label"
      }),

    // ---- J1: cache lookup-or-compute as dedup + anti-join (ner.py:141-157)
    QuerySpec("j1_cache_dedup",
      (s, dir) => {
        val keyed = Tables.documents(s, dir)
          .select(Text.sha256Hex(col("text")).as("k"), col("doc_id"))
        val cache = keyed.filter(col("doc_id") < 100).select("k").distinct()
        keyed.groupBy("k")
          .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n"))
          .join(cache, Seq("k"), "left_anti")
          .orderBy("k")
      },
      Some("WITH keyed AS (SELECT sha256(text) AS k, doc_id FROM documents) " +
        "SELECT k, min(doc_id) AS first_doc, count(*) AS n FROM keyed " +
        "WHERE k NOT IN (SELECT k FROM keyed WHERE doc_id < 100) " +
        "GROUP BY k ORDER BY k")),

    // ---- J1 (bucketed scale path): a join against the bucketed cache
    // (TagCache.writeBucketedCache), rows-gated. At sf0.001–sf0.1 the
    // planner broadcasts the small cache and scans it without its buckets,
    // so this gate checks rows only: the same relation as a plain join.
    // The co-located plan (cache side contributes NO exchange) is pinned by
    // CacheLinkCcSpec on this same query with broadcast off; DuckDB cannot
    // see bucket metadata. The table is built ONCE per (session, fixture
    // dir) — repeated executions (bench reps) time the probe join, not the
    // rebuild.
    QuerySpec("j1_bucketed_cache",
      (s, dir) => {
        val keyed = Tables.documents(s, dir)
          .select(col("doc_id"), Text.sha256Hex(col("text")).as("k"))
        ensureBucketedCache(s, dir)
        keyed.join(s.table("graft_bucketed_cache"), Seq("k"), "left")
          .select(col("doc_id"), col("k"),
            coalesce(col("cached_doc"), lit(-1L)).as("cached_doc"))
          .orderBy("doc_id")
      },
      Some("WITH keyed AS (SELECT doc_id, sha256(text) AS k FROM documents), " +
        "cache AS (SELECT sha256(text) AS k, min(doc_id) AS cached_doc " +
        "FROM documents WHERE doc_id % 3 = 0 GROUP BY 1) " +
        "SELECT keyed.doc_id, keyed.k, coalesce(cache.cached_doc, -1) AS cached_doc " +
        "FROM keyed LEFT JOIN cache USING (k) ORDER BY doc_id")),

    // ---- J2: entity linking (north-star; broadcast dict + window pick) --
    // Label-free on BOTH sides: the link winner is a function of
    // (doc, mention) alone, so a mention that ever matched two patterns
    // must not duplicate Spark rows while the oracle's row_number keeps one
    // (tie-break robustness — the invariant survives pattern-set edits).
    QuerySpec("j2_link",
      (s, dir) => Linker.link(s,
          taggedMentions(s, dir).filter(col("confidence") >= thr)
            .select("doc_id", "lang", "mention")
            .distinct(),
          Seq("doc_id"))
        .select(col("doc_id"), col("mention"), col("entity_id"),
          col("score").cast("double").as("score"))
        .orderBy("doc_id", "mention"),
      Some(s"""WITH m AS (SELECT DISTINCT doc_id, lang, mention FROM $taggedRel t WHERE confidence >= $thr),
        |n AS (SELECT doc_id, lang, mention, ${Lemmatizer.normalizeSqlDuck("mention")} AS mention_norm FROM m),
        |cand AS (SELECT n.doc_id, n.mention, d.entity_id,
        |  d.prior + CASE WHEN n.lang = d.pref_lang THEN CAST(${Tagger.langBonus} AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS score
        |  FROM n JOIN ${Tagger.aliasSqlDuck} d ON n.mention_norm = d.alias_norm
        |  WHERE length(n.mention_norm) > 0)
        |SELECT doc_id, mention, entity_id, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id, mention ORDER BY score DESC, entity_id) AS rn FROM cand) w
        |WHERE rn = 1 ORDER BY doc_id, mention""".stripMargin)),

    // ---- J3: canonicalization via connected components (north-star) -----
    QuerySpec("j3_canon",
      (s, dir) => canonQuery(s, dir),
      Some(canonSqlDuck)),

    // ---- J3 (distributed path): the SAME canonicalization (shared
    // canonQuery/canonSqlDuck — one definition, two registry entries) with
    // the driver-graph guard pinned to 0 = FORCE-distributed (r8; was 1),
    // so the pointer-doubling loop — the path a >2M-edge production graph
    // actually executes — produces the DuckDB-green row itself WITHOUT
    // first paying runAuto's probe, whose take()s execute the full
    // tag→link→set-build lineage once just to learn what the pin already
    // says (~0.25 s of the gate, OPTIMIZATION_r08.md). The conf is
    // set/restored INSIDE the impl; the iterative loop executes eagerly
    // (per-iteration checkpoint + convergence count), so the restore in
    // `finally` cannot race the plan. Oracle: identical recursive-CTE SQL
    // as j3_canon — the two paths must agree bit-for-bit, checked
    // cross-engine, plus the conf-forced equivalence specs at BOTH guard
    // values (CacheLinkCcSpec: 1 = probe-overflow, 0 = force).
    QuerySpec("j3_canon_dist",
      (s, dir) => {
        val key = ConnectedComponents.maxDriverGraphConfKey
        val prev = s.conf.getOption(key)
        s.conf.set(key, "0")
        try canonQuery(s, dir)
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      },
      Some(canonSqlDuck)),

    // ---- O2: retention top-K by recency (ner-clean-cache.sh:9) ----------
    // The events table as a tag cache: key = event_id, ingest stamp = the
    // UTC day bucket the stream gates use. The gate runs the library's
    // histogram top-K itself; the oracle is the one-window definition.
    QuerySpec("o2_retention",
      (s, dir) => {
        val cache = Tables.events(s, dir).select(
          col("event_id").as(TagCache.keyCol),
          floor(unix_millis(col("ts").cast("timestamp")) / lit(86400000.0))
            .cast("long").as("ingest_ts"))
        TagCache.retention(cache, retentionKeep)
          .select(col(TagCache.keyCol).as("event_id"), col("ingest_ts").as("d"))
          .orderBy(col("d").desc, col("event_id"))
      },
      Some("SELECT event_id, d FROM (SELECT event_id, d, " +
        "row_number() OVER (ORDER BY d DESC, event_id) AS rn FROM " +
        "(SELECT event_id, CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS d " +
        s"FROM events) e) w WHERE rn <= $retentionKeep ORDER BY d DESC, event_id")),

    // ---- O3: deterministic stratified split (notebook cells 10-13) ------
    QuerySpec("o3_strat_split",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          when(Text.hexBucket(col("doc_id")) < 204, "train")
            .when(Text.hexBucket(col("doc_id")) < 230, "dev")
            .otherwise("test").as("split"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, CASE " +
        s"WHEN ${Text.hexBucketSqlDuck("doc_id")} < 204 THEN 'train' " +
        s"WHEN ${Text.hexBucketSqlDuck("doc_id")} < 230 THEN 'dev' " +
        "ELSE 'test' END AS split FROM documents ORDER BY doc_id")),

    // ---- kg_triples: the flagship end-to-end (north rule) ---------------
    QuerySpec("kg_triples",
      // assumeUniqueDocs: the driver table satisfies the doc-PK contract
      // (one row per (repo, path, commit), scan -> narrow lineage), so the
      // flagship gate exercises the shuffle-free LocalDistinct operator.
      (s, dir) => KgPipeline.triples(s, Tables.docsDf(s, dir),
          assumeUniqueDocs = true)
        .orderBy("subj", "pred", "obj"),
      Some(s"${kgTriplesDuckBody(cleanedRel)} ORDER BY subj, pred, obj")),

    // ---- stream_kg: the foreachBatch face of the flagship — the REAL
    // forEachBatchTriples sink (writeStream + foreachBatch + parquet
    // append) driven over a 3-micro-batch replay of the corpus, batches
    // keyed by doc_id % 3 and fed in key order so batchId == the key. Docs
    // are row-atomic through the non-canonical pipeline, so the twin is
    // the kg_triples body per corpus slice, unioned with its batch_id —
    // per-batch distinct included (each slice dedups within itself only).
    QuerySpec("stream_kg",
      // `%` (Remainder), NOT pmod: DuckDB's % keeps the dividend's sign
      // like Spark's %, so the twin's `doc_id % 3 = b` predicates match
      // the feed's keys under IDENTICAL arithmetic even for a negative
      // doc_id (where pmod would silently route the doc into a slice no
      // twin predicate selects; the 0..n-1 key guard then fails loudly
      // on both engines' semantics consistently)
      (s, dir) => graft.streaming.EventStream.replayKgBatches(s,
          Tables.docsDfWithId(s, dir)
            .withColumn("b", col("doc_id") % streamKgBatches),
          "b")
        .orderBy("batch_id", "subj", "pred", "obj"),
      Some {
        val branches = (0 until streamKgBatches).map { b =>
          val body = kgTriplesDuckBody(
            cleanedRelWhere(s"doc_id % $streamKgBatches = $b"))
          // batch_id LAST: the Spark dump's physical column order ends
          // with batch_id, and every other gate keeps the two sides'
          // order identical — don't make this the one probe of whether
          // the driver's hash is column-order-insensitive
          s"SELECT *, CAST($b AS BIGINT) AS batch_id FROM ($body) s$b"
        }.mkString("\nUNION ALL\n")
        s"SELECT * FROM (\n$branches\n) u ORDER BY batch_id, subj, pred, obj"
      }),

    // ---- dedup: exact (hash-groupBy) -------------------------------------
    QuerySpec("dedup_exact",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(Text.sha256Hex(col("text")).as("k"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("k"),
      Some("SELECT sha256(text) AS k, min(doc_id) AS keeper, count(*) AS n_copies " +
        "FROM documents GROUP BY sha256(text) ORDER BY k")),

    // ---- dedup: MinHash signatures ---------------------------------------
    QuerySpec("dedup_minhash",
      (s, dir) => Dedup.withMinHashes(cleanedDocs(s, dir), "cleaned")
        .select(col("doc_id"), Dedup.signatureFromMinhashes(col("mh")).as("sig"))
        .orderBy("doc_id"),
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        s"SELECT doc_id, ${Dedup.signatureSqlDuck(sh)} AS sig " +
          s"FROM $cleanedRel c ORDER BY doc_id"
      }),

    // ---- dedup: MinHash LSH banding -> candidate pairs -------------------
    // groupBy-band + in-bucket pair expansion (ONE pass; a self-join would
    // recompute the minhash projection per join side), with hot bands above
    // Dedup.maxBucket excluded BEFORE the collect (count pre-pass) — the
    // boilerplate-license defense; overflow surfaced by lshOverflowBands.
    QuerySpec("dedup_lsh_pairs",
      (s, dir) => {
        val sh = Dedup.withMinHashes(cleanedDocs(s, dir), "cleaned")
        val bands = sh.select(col("doc_id"),
          explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("band"))
        Dedup.lshCandidatePairs(bands).orderBy("da", "db")
      },
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        val keys = Dedup.bandKeysSqlDuck("sh").mkString("[", ", ", "]")
        s"""WITH s AS (SELECT doc_id, $sh AS sh FROM $cleanedRel c),
          |bands AS (SELECT doc_id, unnest($keys) AS band FROM s),
          |capped AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= ${Dedup.maxBucket})
          |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_bands
          |FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ---- dedup: LSH overflow surfacing — the bands the cap EXCLUDED from
    // pair expansion ("never silently": at pretraining scale the capped-out
    // boilerplate bands are exactly what an operator needs to see). The
    // driver fixture has no band hotter than the production cap (64), so
    // the gate synthesizes the boilerplate-duplication regime IN the query:
    // 70 byte-identical copies of doc 1's cleaned text (the reference
    // analogue is its cache's hot-sentence skew, README.md:84-98) share all
    // four MinHash bands, pushing each past maxBucket = 64 — the SAME cap
    // the production pair expansion enforces, no gate-only cap constant.
    // The DuckDB twin replays the synthesis and the QUALIFY inversion.
    QuerySpec("dedup_overflow",
      (s, dir) => {
        val sh = Dedup.withMinHashes(hotBandCorpus(s, dir), "cleaned")
        val bands = sh.select(col("doc_id"),
          explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("band"))
        Dedup.lshOverflowBands(bands).orderBy("band")
      },
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        val keys = Dedup.bandKeysSqlDuck("sh").mkString("[", ", ", "]")
        s"""WITH s AS (SELECT doc_id, $sh AS sh FROM $hotBandRel c),
          |bands AS (SELECT doc_id, unnest($keys) AS band FROM s)
          |SELECT band, count(*) AS n FROM bands GROUP BY band
          |HAVING count(*) > ${Dedup.maxBucket} ORDER BY band""".stripMargin
      }),

    // ---- dedup: LSH pair expansion WITH the production cap biting — the
    // same hot-band corpus through lshCandidatePairs at maxBucket = 64.
    // Doc 1 and its 70 boilerplate copies share all four bands, so every
    // one of their buckets is hot and contributes NOTHING: the gate pins
    // that the cap excludes exactly the boilerplate group's pairs (doc 1's
    // former candidates vanish) while every under-cap pair survives
    // untouched. The twin is the lsh_pairs QUALIFY over the same corpus.
    QuerySpec("dedup_lsh_capped",
      (s, dir) => {
        val sh = Dedup.withMinHashes(hotBandCorpus(s, dir), "cleaned")
        val bands = sh.select(col("doc_id"),
          explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("band"))
        Dedup.lshCandidatePairs(bands).orderBy("da", "db")
      },
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        val keys = Dedup.bandKeysSqlDuck("sh").mkString("[", ", ", "]")
        s"""WITH s AS (SELECT doc_id, $sh AS sh FROM $hotBandRel c),
          |bands AS (SELECT doc_id, unnest($keys) AS band FROM s),
          |capped AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= ${Dedup.maxBucket})
          |SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_bands
          |FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ---- dedup: SimHash ---------------------------------------------------
    QuerySpec("dedup_simhash",
      (s, dir) => Dedup.simhash(
          cleanedDocs(s, dir).select(col("doc_id"),
            explode(Dedup.tokens(col("cleaned"))).as("token")),
          Seq("doc_id"))
        .orderBy("doc_id"),
      Some {
        val toks = s"(SELECT doc_id, u.t AS token FROM $cleanedRel c, " +
          "unnest(string_split(c.cleaned, ' ')) u(t))"
        s"SELECT doc_id, simhash FROM " +
          s"${Dedup.simhashSqlDuck(Seq("doc_id"), "token", s"$toks tt")} z " +
          "ORDER BY doc_id"
      }),

    // ---- dedup: n-gram Jaccard, exact verify over LSH-blocked candidates --
    // The block key is a CONTENT key (MinHash band), not a ~5-cardinality
    // metadata key: candidate generation is linear in bucket sizes at any
    // corpus scale, and the exact Jaccard only touches candidate pairs —
    // the standard MinHash-candidate → exact-verify dedup pipeline.
    QuerySpec("dedup_jaccard",
      (s, dir) => {
        val base = Dedup.withMinHashes(cleanedDocs(s, dir), "cleaned",
          shingleSetCol = Some("sh"))
        val bands = base.select(col("doc_id"),
          explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("band"))
        val pairs = Dedup.lshCandidatePairs(bands).select("da", "db")
        val sa = base.select(col("doc_id").as("da"), col("sh").as("sa"))
        val sb = base.select(col("doc_id").as("db"), col("sh").as("sb"))
        pairs.join(sa, "da").join(sb, "db")
          .select(col("da"), col("db"),
            round(Dedup.jaccard(col("sa"), col("sb")), 6).as("jac"))
          .filter(col("jac") >= 0.004)
          .orderBy("da", "db")
      },
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        val keys = Dedup.bandKeysSqlDuck("sh").mkString("[", ", ", "]")
        s"""WITH s AS (SELECT doc_id, $sh AS sh FROM $cleanedRel c),
          |bands AS (SELECT doc_id, unnest($keys) AS band FROM s),
          |capped AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= ${Dedup.maxBucket}),
          |pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          |  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
          |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM s)
          |SELECT da, db, jac FROM (
          |  SELECT da, db,
          |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |          CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE), 6) AS jac
          |  FROM pairs JOIN sets x ON x.doc_id = da JOIN sets y ON y.doc_id = db) p
          |WHERE jac >= 0.004 ORDER BY da, db""".stripMargin
      }),

    // ---- dedup: end-to-end clustering — LSH candidates → exact-Jaccard
    // verify → connected components → one keeper per near-dup cluster.
    // This is the full production dedup pipeline composed from the pieces
    // above; at scale every stage keeps its bucketed/bounded shape and the
    // CC runs over the (tiny) verified-pair edge set, not the corpus.
    // Doc ids are zero-padded for the CC's string min so the canonical
    // keeper is the NUMERIC minimum, matching the SQL twin's min().
    QuerySpec("dedup_clusters",
      (s, dir) => {
        val base = Dedup.withMinHashes(cleanedDocs(s, dir), "cleaned",
          shingleSetCol = Some("sh"))
        val bands = base.select(col("doc_id"),
          explode(Dedup.bandKeysFromMinhashes(col("mh"))).as("band"))
        val pairs = Dedup.lshCandidatePairs(bands).select("da", "db")
        val sa = base.select(col("doc_id").as("da"), col("sh").as("sa"))
        val sb = base.select(col("doc_id").as("db"), col("sh").as("sb"))
        val pad = (c: Column) => lpad(c.cast("string"), 10, "0")
        val verified = pairs.join(sa, "da").join(sb, "db")
          .filter(round(Dedup.jaccard(col("sa"), col("sb")), 6) >= 0.5)
          .select(pad(col("da")).as("src"), pad(col("db")).as("dst"))
        // runAuto: the verified duplicate-pair graph is tiny relative to
        // the corpus → guarded driver union-find, distributed fallback
        ConnectedComponents.runAuto(s, verified)
          .select(col("id").cast("long").as("doc_id"),
            col("component").cast("long").as("keeper"))
          .orderBy("doc_id")
      },
      Some {
        val sh = Dedup.shinglesSqlDuck("string_split(cleaned, ' ')")
        val keys = Dedup.bandKeysSqlDuck("sh").mkString("[", ", ", "]")
        s"""WITH RECURSIVE s AS (SELECT doc_id, $sh AS sh FROM $cleanedRel c),
          |bands AS (SELECT doc_id, unnest($keys) AS band FROM s),
          |capped AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= ${Dedup.maxBucket}),
          |pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          |  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
          |sets AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
          |ver AS (SELECT da, db FROM (
          |  SELECT da, db,
          |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
          |          CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE), 6) AS jac
          |  FROM pairs JOIN sets x ON x.doc_id = da JOIN sets y ON y.doc_id = db) p
          |  WHERE jac >= 0.5),
          |edges AS (SELECT da AS src, db AS dst FROM ver UNION SELECT db, da FROM ver),
          |nodes AS (SELECT DISTINCT src AS nd FROM edges),
          |reach(nd, lbl) AS (SELECT nd, nd FROM nodes
          |  UNION SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.nd)
          |SELECT nd AS doc_id, min(lbl) AS keeper FROM reach GROUP BY nd ORDER BY doc_id""".stripMargin
      }),

    // ---- dedup: embedding-cosine near-duplicate pairs ----------------------
    // Candidates from sign-band LSH (axis-aligned hyperplanes — a CONTENT
    // key computed map-side; band key is the only shuffle key), then exact
    // cosine on candidate pairs only. Scale knob: buckets per band =
    // 2^signBandDims (Similarity.scala).
    QuerySpec("dedup_embedding",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
          .filter(col("vec_id") % 4 === 0)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val bands = emb.select(col("vec_id"),
          explode(Similarity.signBandKeys(col("e"))).as("band"))
        val pairs = Dedup.lshCandidatePairs(bands, idCol = "vec_id")
          .select(col("da").as("va"), col("db").as("vb"))
        val ea = emb.select(col("vec_id").as("va"), col("e").as("ea"))
        val eb = emb.select(col("vec_id").as("vb"), col("e").as("eb"))
        pairs.join(ea, "va").join(eb, "vb")
          .select(col("va"), col("vb"),
            round(Similarity.cosine(col("ea"), col("eb")), 6).as("cos"))
          .filter(col("cos") >= 0.2)
          .orderBy("va", "vb")
      },
      Some {
        val keys = Similarity.signBandKeysSqlDuck("e").mkString("[", ", ", "]")
        val dot = Similarity.dotSqlDuck("x.e", "y.e")
        val na = Similarity.dotSqlDuck("x.e", "x.e")
        val nb = Similarity.dotSqlDuck("y.e", "y.e")
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 4 = 0),
          |bands AS (SELECT vec_id, unnest($keys) AS band FROM emb),
          |capped AS (SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band) <= ${Dedup.maxBucket}),
          |pairs AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          |  FROM capped a JOIN capped b ON a.band = b.band AND a.vec_id < b.vec_id)
          |SELECT va, vb, cos FROM (
          |  SELECT va, vb, round(($dot) / (sqrt($na) * sqrt($nb)), 6) AS cos
          |  FROM pairs JOIN emb x ON x.vec_id = va JOIN emb y ON y.vec_id = vb) p
          |WHERE cos >= 0.2 ORDER BY va, vb""".stripMargin
      }),

    // ---- similarity: brute-force cosine top-k ------------------------------
    QuerySpec("ann_cosine",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, 3)
          .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 6).as("cos"))
          .orderBy("qid", "rank")
      },
      Some {
        val dot = Similarity.dotSqlDuck("q.qe", "c.ce")
        val na = Similarity.dotSqlDuck("q.qe", "q.qe")
        val nb = Similarity.dotSqlDuck("c.ce", "c.ce")
        s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
          |scored AS (SELECT qid, nid, ($dot) / (sqrt($na) * sqrt($nb)) AS cos
          |  FROM c CROSS JOIN q WHERE qid <> nid),
          |ranked AS (SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM scored)
          |SELECT qid, nid, rank, round(cos, 6) AS cos FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
      }),

    // ---- similarity: LSH-bucketed ANN (scale path; recall vs brute force
    // asserted in tests; oracle = DuckDB twin with the same seeded
    // hyperplane literals, signature packing, and multi-probe) ----------------
    QuerySpec("ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, 3)
          .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 6).as("cos"))
          .orderBy("qid", "rank")
      },
      Some(s"SELECT qid, nid, rank, cos FROM " +
        s"${Similarity.lshTopKSqlDuck("vec_id < 10", 3)} z ORDER BY qid, rank")),

    // ---- similarity: IVF ANN (cell-partitioned scale path; brute-force
    // equivalence at full nprobe asserted in tests; oracle = DuckDB twin
    // with the same seeded centroid literals and cell ranking) ----------------
    QuerySpec("ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, 3)
          .select(col("qid"), col("nid"), col("rank"), round(col("cos"), 6).as("cos"))
          .orderBy("qid", "rank")
      },
      Some(s"SELECT qid, nid, rank, cos FROM " +
        s"${Similarity.ivfTopKSqlDuck("vec_id < 10", 3)} z ORDER BY qid, rank")),

    // ---- similarity: IVF over the TRAINED index (real distributed Lloyd's
    // k-means build, then probe). The oracle replays the ENTIRE training as
    // a recursive CTE — exact quantized-integer sums make every iteration
    // bit-identical cross-engine — so the index build itself is gated, not
    // just the seeded init. Partition-invariance of the build is pinned by
    // spec (DedupSimSpec).
    QuerySpec("ann_ivf_trained",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val trained = Similarity.trainCentroids(emb, nlist = 8, iters = 3)
        Similarity.ivfTopKWith(trained)(emb.filter(col("vec_id") < 10), emb,
            3, nprobe = 4)
          .select(col("qid"), col("nid"), col("rank"),
            round(col("cos"), 6).as("cos"))
          .orderBy("qid", "rank")
      },
      Some(s"SELECT qid, nid, rank, cos FROM " +
        s"${Similarity.ivfTopKTrainedSqlDuck("vec_id < 10", 3, nlist = 8, nprobe = 4, iters = 3)} z " +
        "ORDER BY qid, rank")),

    // ---- text analysis: language ID ----------------------------------------
    QuerySpec("lang_id",
      (s, dir) => cleanedDocs(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("cleaned")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${TextAnalysis.langIdSqlDuck("cleaned")} AS lang_pred " +
        s"FROM $cleanedRel c ORDER BY doc_id")),

    // ---- text analysis: quality scoring -------------------------------------
    QuerySpec("quality_score",
      (s, dir) => TextAnalysis.quality(cleanedDocs(s, dir), "cleaned")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("stop_ratio"), col("distinct_ratio"), col("quality_score"))
        .orderBy("doc_id"),
      Some {
        val cols = TextAnalysis.qualitySqlDuck("cleaned")
          .map { case (n, e) => s"$e AS $n" }.mkString(", ")
        s"SELECT doc_id, $cols FROM $cleanedRel c ORDER BY doc_id"
      }),

    // ---- text analysis: token counting --------------------------------------
    QuerySpec("token_count",
      (s, dir) => cleanedDocs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.wsTokens(col("cleaned")).cast("long").as("ws_tokens"),
          TextAnalysis.bpeTokens(col("cleaned")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, len(string_split(cleaned, ' ')) AS ws_tokens, " +
        s"${TextAnalysis.bpeTokensSqlDuck("cleaned")} AS bpe_tokens " +
        s"FROM $cleanedRel c ORDER BY doc_id")),

    // ---- text analysis: document fingerprint ---------------------------------
    QuerySpec("fingerprint",
      (s, dir) => cleanedDocs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("cleaned")).as("fp"))
        .orderBy("doc_id"),
      Some(s"SELECT doc_id, ${TextAnalysis.fingerprintSqlDuck("cleaned")} AS fp " +
        s"FROM $cleanedRel c ORDER BY doc_id")),

    // ---- multimodal: binary payload metadata (Catalyst part) -----------------
    QuerySpec("mm_meta",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("byte_len"),
          substring(col("text"), 1, 8).as("header"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, octet_length(encode(text)) AS byte_len, " +
        "substr(text, 1, 8) AS header FROM documents ORDER BY doc_id")),

    // ---- multimodal: REAL codec decode via mapPartitions ---------------------
    // Payloads are valid 24-bpp BMPs synthesized from sha256(text); Spark
    // DECODES them with javax.imageio (per-partition reader init); the
    // oracle PREDICTS byte length, header bytes, and dimensions from the
    // same sha256 derivation — encoder or decoder format bugs diverge.
    QuerySpec("mm_decode",
      (s, dir) => Multimodal.decodeMeta(s,
          Multimodal.withBmpPayload(spreadDocs(s, Tables.documents(s, dir))))
        .toDF().orderBy("doc_id"),
      Some {
        val (w, h) = Multimodal.dimsSqlDuck("text")
        def hexByte(e: String) =
          s"substr('0123456789abcdef', ($e) // 16 + 1, 1) || " +
            s"substr('0123456789abcdef', ($e) % 16 + 1, 1)"
        // header: 'BM' + int32 file size (little-endian; fits in 3 bytes
        // at these dims) + 2 reserved zero bytes = 8 bytes / 16 hex chars
        val sizeLe = (0 until 3)
          .map(k => hexByte(s"(byte_len // ${1 << (8 * k)}) % 256"))
          .mkString(" || ")
        s"""WITH d AS (SELECT doc_id, $w AS width, $h AS height FROM documents),
          |f AS (SELECT doc_id, width, height,
          |  54 + ((width * 3 + 3) // 4) * 4 * height AS byte_len FROM d)
          |SELECT doc_id, CAST(byte_len AS BIGINT) AS byte_len,
          |  '424d' || $sizeLe || '000000' AS header_hex,
          |  width, height, 1 AS n_frames
          |FROM f ORDER BY doc_id""".stripMargin
      }),

    // ---- multimodal: REAL audio decode (javax.sound over synthesized WAV) ----
    QuerySpec("mm_audio",
      (s, dir) => Multimodal.decodeAudioMeta(s,
          Multimodal.withWavPayload(Tables.documents(s, dir)))
        .toDF().orderBy("doc_id"),
      Some {
        val (rate, ch, fr) = Multimodal.audioDimsSqlDuck("text")
        s"""WITH a AS (SELECT doc_id, $rate AS sample_rate, $ch AS channels, $fr AS n_frames FROM documents)
          |SELECT doc_id, CAST(44 + n_frames * channels * 2 AS BIGINT) AS byte_len,
          |  sample_rate, channels, CAST(n_frames AS BIGINT) AS n_frames
          |FROM a ORDER BY doc_id""".stripMargin
      }),

    // ---- multimodal: REAL image resize (decode -> NN half-size -> re-encode).
    // The oracle predicts the resized dims and the re-encoded BMP byte
    // length from the same sha256 derivations; pixel-level NN fidelity is
    // pinned by spec (the resized payload re-decodes to the source's
    // even-coordinate pixels).
    QuerySpec("mm_resize",
      (s, dir) => Multimodal.resizeHalf(s,
          Multimodal.withBmpPayload(spreadDocs(s, Tables.documents(s, dir))))
        .toDF().orderBy("doc_id"),
      Some {
        val (w, h) = Multimodal.dimsSqlDuck("text")
        s"""WITH d AS (SELECT doc_id, $w AS width, $h AS height FROM documents),
          |r AS (SELECT doc_id, width, height,
          |  greatest(width // 2, 1) AS out_width,
          |  greatest(height // 2, 1) AS out_height FROM d)
          |SELECT doc_id, width, height, out_width, out_height,
          |  CAST(54 + ((out_width * 3 + 3) // 4) * 4 * out_height AS BIGINT) AS out_len
          |FROM r ORDER BY doc_id""".stripMargin
      }),

    // ---- multimodal: REAL audio frame-sampling (decode -> every 4th frame
    // -> re-encode). The temporal-subsample shape a video frame-sampler
    // takes; byte-level stride fidelity is pinned by spec.
    QuerySpec("mm_audio_sample",
      (s, dir) => Multimodal.sampleFrames(s,
          Multimodal.withWavPayload(Tables.documents(s, dir)))
        .toDF().orderBy("doc_id"),
      Some {
        val (rate, ch, fr) = Multimodal.audioDimsSqlDuck("text")
        s"""WITH a AS (SELECT doc_id, $rate AS sample_rate, $ch AS channels, $fr AS n_frames FROM documents),
          |sm AS (SELECT doc_id, sample_rate, channels, n_frames,
          |  (n_frames + 3) // 4 AS out_frames FROM a)
          |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
          |  CAST(out_frames AS BIGINT) AS out_frames,
          |  CAST(44 + out_frames * channels * 2 AS BIGINT) AS out_len,
          |  sample_rate
          |FROM sm ORDER BY doc_id""".stripMargin
      }),

    // ---- multimodal: video twin — REAL multi-frame GIF decode + stride-2
    // temporal subsample. GIF's LZW byte length is not SQL-predictable, so
    // the oracle pins frame count, dims, and the subsample arithmetic; the
    // per-frame decode is a real codec pass (each kept frame is read).
    QuerySpec("mm_video",
      (s, dir) => Multimodal.decodeVideoMeta(s,
          Multimodal.withGifPayload(spreadDocs(s, Tables.documents(s, dir))))
        .toDF().orderBy("doc_id"),
      Some {
        val (w, h) = Multimodal.dimsSqlDuck("text")
        val nf = Multimodal.videoFramesSqlDuck("text")
        s"""WITH v AS (SELECT doc_id, $nf AS n_frames, $w AS width, $h AS height FROM documents)
          |SELECT doc_id, n_frames, width, height,
          |  (n_frames + 1) // 2 AS sampled_frames
          |FROM v ORDER BY doc_id""".stripMargin
      }),

    // ---- multimodal: pixel-level feature extraction. The payload's pixel
    // bytes are seeded from the sha256 HEX of the text, so the oracle can
    // recompute the channel-byte sum arithmetically — the driver gate
    // verifies the decode down to pixel CONTENT, not just dims/lengths.
    QuerySpec("mm_pixels",
      (s, dir) => Multimodal.pixelStats(s,
          Multimodal.withBmpPayloadHexSeed(spreadDocs(s, Tables.documents(s, dir))))
        .toDF().orderBy("doc_id"),
      Some {
        val (w, h) = Multimodal.dimsSqlDuck("text")
        val pxSum = Multimodal.pixelSumSqlDuck("text", "width", "height")
        s"""WITH d AS (SELECT doc_id, text, $w AS width, $h AS height FROM documents)
          |SELECT doc_id, CAST($pxSum AS BIGINT) AS px_sum,
          |  CAST(width * height * 3 AS BIGINT) AS n_px
          |FROM d ORDER BY doc_id""".stripMargin
      }),

    // ---- relational coverage: TPC-H-ish (bench headliners) -------------------
    QuerySpec("q1_pricing",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2))
            - dec(col("l_discount")))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
        "count(*) AS count_order FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    QuerySpec("q3_revenue_by_nation",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val cu = Tables.customer(s, dir)
        val na = Tables.nation(s, dir)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cu, col("o_custkey") === col("c_custkey"))
          .join(broadcast(na), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2))
            - dec(col("l_discount")))).cast("double").as("revenue"))
          .orderBy("n_name")
      },
      Some("SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name")),

    QuerySpec("q4_top_orders",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) w WHERE rn <= 3 ORDER BY o_custkey, rn")),

    // ---- S5: XML corpus ingest (reference notebook cells 2-7) ----------------
    // Reference-shaped article XML is synthesized deterministically from
    // `documents` IN the query (the driver corpus has no XML table) and
    // extracted back through XmlCorpus.articles — the REAL XPath layer runs:
    // category filter, department xpath, bodytext text() collection with the
    // location/em dateline EXCLUDED, entity escaping round-trip. The oracle
    // predicts the extraction from the same synthesis arithmetic (the
    // mm_pixels trick): every 7th doc is a non-article, every 5th has an
    // empty department, the rest yield (dept-<lang>, cleanup chain of text).
    QuerySpec("s5_xml",
      (s, dir) => graft.sources.XmlCorpus.articles(
          Tables.documents(s, dir).select(col("doc_id"),
            graft.sources.XmlCorpus.syntheticArticleXml(
              col("doc_id"), col("lang"), col("text")).as("xml")))
        .select("doc_id", "department", "content")
        .orderBy("doc_id"),
      Some {
        val t = graft.sources.XmlCorpus.sanitizeSqlDuck("text")
        s"""WITH base AS (SELECT doc_id, lang, $t AS t FROM documents
          |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0),
          |cl AS (SELECT doc_id, lang, ${Text.cleanupSqlDuck("t")} AS ct FROM base)
          |SELECT doc_id, 'dept-' || lang AS department,
          |  ${Text.datelineStripSqlDuck("ct")} AS content
          |FROM cl ORDER BY doc_id""".stripMargin
      }),

    // ---- S5 (fasttext artifact): the notebook's final training file
    // (cell 7) — `__label__<dept> <text>` lines over the same extracted
    // article relation. The oracle concatenates the same predicted fields;
    // doc_id rides along as the unique sort key (the notebook writes bare
    // lines; the driver compare needs a total order).
    QuerySpec("s5_fasttext",
      (s, dir) => graft.sources.XmlCorpus.fasttextLine(
          graft.sources.XmlCorpus.articles(
            Tables.documents(s, dir).select(col("doc_id"),
              graft.sources.XmlCorpus.syntheticArticleXml(
                col("doc_id"), col("lang"), col("text")).as("xml"))),
          keyCols = Seq("doc_id"))
        .orderBy("doc_id"),
      Some {
        val t = graft.sources.XmlCorpus.sanitizeSqlDuck("text")
        s"""WITH base AS (SELECT doc_id, lang, $t AS t FROM documents
          |  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0),
          |cl AS (SELECT doc_id, lang, ${Text.cleanupSqlDuck("t")} AS ct FROM base)
          |SELECT doc_id, '__label__dept-' || lang || ' ' ||
          |  trim(${Text.datelineStripSqlDuck("ct")}) AS line
          |FROM cl ORDER BY doc_id""".stripMargin
      }),

    // ---- S2: reference ndjson cache import (cacheServer.py:25-39) ------------
    // One reference-format line per doc — `{"<sentence>": {"<LABEL>":
    // ["<text>", ...]}}` — is synthesized with to_json (REAL JSON escaping
    // of the raw corpus text: quotes, backslashes, control chars) and fed
    // through the S2 parser (from_json with the reference MapType schema +
    // explode + re-key). The oracle predicts the parsed output from the
    // synthesis arithmetic: a schema-nesting or escaping bug on either the
    // serialize or the parse side diverges.
    QuerySpec("s2_ndjson_import",
      (s, dir) => {
        val lines = Tables.documents(s, dir).select(
          to_json(map(col("text"),
            map(lit("LOC"), array(col("lang")),
              lit("ORG"), array(col("source"))))).as("value"))
        TagCache.parseReferenceNdjson(lines)
          .select(col("k"), col("sentence"),
            to_json(col("entity_map")).as("entity_map_json"))
          // (k, entity_map_json) is a TOTAL order: duplicate texts share k
          // but then differ (or coincide entirely) in the map json — k
          // alone breaks the total-ORDER-BY invariant when a corpus
          // carries duplicate texts with different lang/source.
          .orderBy("k", "entity_map_json")
      },
      Some {
        // JSON-escape the embedded values exactly as Spark's to_json
        // (Jackson) does for the realistic character classes: backslash
        // first, then quote, then the named control escapes. A lang/source
        // carrying other control chars would still diverge — none can
        // survive parquet string columns of this corpus, and the sentence
        // (the interesting escaping case) is output as a PLAIN column.
        def esc(x: String) =
          s"replace(replace(replace(replace(replace($x, " +
            s"'\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), " +
            s"chr(13), '\\r'), chr(9), '\\t')"
        s"SELECT ${Text.sha256SqlDuck("text")} AS k, text AS sentence, " +
          s"""'{"LOC":["' || ${esc("lang")} || '"],"ORG":["' || ${esc("source")} || '"]}' AS entity_map_json """ +
          "FROM documents ORDER BY k, entity_map_json"
      }),

    // ---- streaming twin (batch-equivalent windowed agg; the true
    // Structured Streaming path is exercised in tests) --------------------------
    QuerySpec("stream_hourly",
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"))
        .orderBy("ws", "event_type"),
      Some("SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS ws, " +
        "event_type, count(*) AS n FROM events GROUP BY 1, 2 ORDER BY ws, event_type")),

    // ---- streaming horizon gate: the BOUNDED-state running-totals variant
    // (flatMapGroupsWithState + EventTimeTimeout) run for real over a
    // finite replay of the events table, one micro-batch per UTC day. The
    // DuckDB twin predicts the post-eviction totals from the same
    // watermark/timeout arithmetic (probed, not assumed — pinned by the
    // AnalysisStreamingSpec "streaming: horizon …" specs): watermark
    // before a day's batch = floor-ms max event time of all prior days
    // minus the delay; a key whose
    // (last event + horizon) is STRICTLY below that watermark is evicted
    // in a no-data batch before its next event, restarting its totals.
    // Values are floor(value*2^20)-quantized (the ann_ivf_trained trick)
    // so the in-batch double fold is order-independent and exact. At
    // sf0.01 the fixture yields ~400 evictions-with-re-arrival (measured)
    // — the eviction path is exercised, not vacuously green. total_q is
    // CAST to BIGINT because DuckDB's sum(BIGINT) returns HUGEINT — a type
    // Spark cannot represent, and the one the driver's typed hash rejects
    // even when every value matches (the r6 failure; the quantized day
    // sums are far inside int64, so the cast is lossless).
    QuerySpec("stream_horizon",
      (s, dir) => graft.streaming.EventStream.replayDailyHorizon(s,
          Tables.events(s, dir).select(col("user_id"),
            floor(col("value") * lit(graft.streaming.EventStream.gateQuantScale))
              .as("value"), col("ts")))
        .orderBy("user_id"),
      Some {
        val hz = graft.streaming.EventStream.gateHorizonMs
        val dl = graft.streaming.EventStream.gateDelayMs
        val qsc = graft.streaming.EventStream.gateQuantScale
        s"""WITH ev AS (SELECT user_id, CAST(floor(value * $qsc) AS BIGINT) AS q,
          |    epoch_ms(ts) AS ms, date_trunc('day', ts) AS b FROM events),
          |mx AS (SELECT b, max(ms) AS bmax FROM ev GROUP BY b),
          |wm AS (SELECT b, max(bmax) OVER (ORDER BY b
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - $dl AS wmb FROM mx),
          |ue AS (SELECT user_id, q, ms, b,
          |    lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS pms,
          |    lag(b) OVER (PARTITION BY user_id ORDER BY ms) AS pb FROM ev),
          |fl AS (SELECT ue.*, CASE WHEN pms IS NOT NULL AND pb < ue.b
          |    AND wm.wmb > pms + $hz THEN 1 ELSE 0 END AS rst
          |  FROM ue JOIN wm ON wm.b = ue.b),
          |sess AS (SELECT *, sum(rst) OVER (PARTITION BY user_id ORDER BY ms
          |    ROWS UNBOUNDED PRECEDING) AS sid FROM fl),
          |last AS (SELECT user_id, max(sid) AS msid FROM sess GROUP BY user_id)
          |SELECT s.user_id, count(*) AS n_events,
          |  CAST(sum(s.q) AS BIGINT) AS total_q
          |FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sid = l.msid
          |GROUP BY s.user_id ORDER BY s.user_id""".stripMargin
      }),

    // ---- streaming dedup horizon gate: dropDuplicatesWithinWatermark run
    // for real over the same daily replay — the BOUNDED-state dedup
    // variant (S3/J1's streaming face). Feed = per (user_id, UTC day) the
    // ms-floored min event time, duplicated 2× byte-identically so the
    // in-batch drop path runs without order ambiguity. The DuckDB twin
    // walks each key's day sequence with the PROBED state arithmetic
    // (pinned by the AnalysisStreamingSpec "streaming: dedup horizon …"
    // specs): expiry = emitted ts + horizon, eviction on watermark >=
    // expiry (EQUALITY evicts — the opposite polarity of
    // flatMapGroupsWithState's strict timeout), duplicates do not extend
    // the stored expiry, and the no-data batch evicts before a key's
    // re-arrival. At sf0.01 the 12h horizon splits
    // the fixture ~half emit (2137, of them 1987 evict-and-re-emits) /
    // half dedup-drop (1869) — both paths exercised, not vacuously green.
    QuerySpec("stream_dedup_horizon",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"))
        val byDay = ev.groupBy(col("user_id"),
            floor(unix_millis(col("ts")) / lit(86400000.0)).cast("long").as("d"))
          .agg(timestamp_millis(unix_millis(min(col("ts")))).as("ts"))
        val fed = byDay.select(col("user_id"),
            col("user_id").cast("string").as("text"), col("ts"))
          .withColumn("dup", explode(array(lit(1), lit(2))))
          .drop("dup")
        graft.streaming.EventStream.replayDailyDedup(s, fed)
          .orderBy("user_id", "t_ms")
      },
      Some {
        val hz = graft.streaming.EventStream.gateDedupHorizonMs
        s"""WITH RECURSIVE kd AS (SELECT user_id,
          |    CAST(floor(epoch_ms(ts)/86400000.0) AS BIGINT) AS d,
          |    min(epoch_ms(ts)) AS t FROM events GROUP BY 1, 2),
          |mx AS (SELECT d, max(t) AS dm FROM kd GROUP BY d),
          |wm AS (SELECT d, max(dm) OVER (ORDER BY d
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - $hz AS w FROM mx),
          |seq AS (SELECT kd.user_id, kd.t, wm.w,
          |    row_number() OVER (PARTITION BY kd.user_id ORDER BY kd.d) AS rn
          |  FROM kd JOIN wm ON wm.d = kd.d),
          |walk AS (
          |  SELECT user_id, rn, t, TRUE AS em, t AS le FROM seq WHERE rn = 1
          |  UNION ALL
          |  SELECT s.user_id, s.rn, s.t,
          |      s.w >= wk.le + $hz,
          |      CASE WHEN s.w >= wk.le + $hz THEN s.t ELSE wk.le END
          |  FROM walk wk JOIN seq s ON s.user_id = wk.user_id AND s.rn = wk.rn + 1)
          |SELECT user_id, t AS t_ms FROM walk WHERE em
          |ORDER BY user_id, t_ms""".stripMargin
      })
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    KgPipeline.triples(spark, Tables.docsDf(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.impl).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
