package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** J1 — the batch restatement of the reference's memoization cache
  * (`cacheServer.py:62-111`, orchestrated at `ner_tagger/ner.py` retrieve/
  * store clients). A runtime KV service becomes a dedup-then-join pattern:
  *
  *  1. key every sentence with `sha256(sentence)` (the reference used
  *     `uuid5(NAMESPACE_X500, sentence)`, `cacheServer.py:34`; sha256 is the
  *     BASELINE.json row invariant),
  *  2. `dropDuplicates` on the key — cross-row common-subexpression
  *     elimination; a sentence occurring a billion times is tagged once,
  *     which is also the hot-key skew defense,
  *  3. left-anti join against the persisted `tag_cache` table → only misses
  *     reach the expensive tagger,
  *  4. tag misses, append them to the cache (S3: append-mode parquet,
  *     the `cacheServer.py:75-83` ndjson append twin),
  *  5. equi-join hits ∪ fresh results back to the sentence relation.
  *
  * Correctness contract (tested): cache-on ≡ cache-off results.
  */
object TagCache {

  val keyCol = "k"

  /** Attach the cache key. */
  def keyed(sentences: DataFrame, sentenceCol: String = "sentence"): DataFrame =
    sentences.withColumn(keyCol, Text.sha256Hex(col(sentenceCol)))

  /** Load the persisted cache (k, sentence, entities, ingest_ts); empty
    * relation when absent.
    */
  def readCache(spark: SparkSession, cacheDir: String): DataFrame = {
    import spark.implicits._
    val path = new org.apache.hadoop.fs.Path(cacheDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).nonEmpty)
      spark.read.parquet(cacheDir)
    else
      spark.createDataset(Seq.empty[graft.model.CacheRow]).toDF()
  }

  /** Tag the distinct sentences of `sentences` through the cache.
    *
    * @param tagger computes `entities` for a (k, sentence) relation — the
    *               expensive stage run only on cache misses.
    * @return the input relation with `entities` attached per row.
    */
  def tagThroughCache(spark: SparkSession, sentences: DataFrame,
      cacheDir: String, tagger: DataFrame => DataFrame,
      ingestTs: Long = 0L): DataFrame = {
    val withKey = keyed(sentences)
    val distinctSents = withKey.select(keyCol, "sentence").dropDuplicates(keyCol)
    val cache = readCache(spark, cacheDir).select(keyCol, "sentence", "entities")

    val misses = distinctSents.join(cache.select(keyCol), Seq(keyCol), "left_anti")
    val fresh = tagger(misses).select(keyCol, "sentence", "entities")

    // S3: append-mode write-back (fire-and-forget in the reference,
    // ner.py cache store; a committed append here).
    fresh.withColumn("ingest_ts", lit(ingestTs))
      .write.mode("append").parquet(cacheDir)

    // Join-back reads the COMMITTED snapshot (old cache ∪ fresh appends)
    // instead of re-using `fresh`'s lineage — re-using it would re-execute
    // the expensive tagger a second time for every miss, defeating the
    // whole point of J1 (run the model once per distinct sentence,
    // ner.py:141-157). The spec pins exactly-one tagger invocation per miss.
    val results = readCache(spark, cacheDir).select(keyCol, "entities")
    withKey.join(results, Seq(keyCol), "left")
  }

  /** Buckets of [[writeBucketedCache]]'s layout. */
  private val buckets = 8

  /** Bucketed persistence for the cache table — the CO-LOCATED-JOIN scale
    * path: `bucketBy(buckets, k)` means a join against the cache on the
    * key reads the cache side pre-partitioned, so only the (smaller,
    * per-batch) probe side shuffles. At the reference's 3M-entry
    * retention — or a multi-billion-row production cache — this removes
    * the larger of J1's two shuffles from every run. No in-bucket sort:
    * Spark does not carry it into the read's output ordering, so a
    * sort-merge join sorts the scanned side anyway. Parquet bucketed
    * tables need the session catalog; `path` places the table's files.
    * The planner still broadcasts a cache under the broadcast threshold,
    * and then scans it without its buckets.
    */
  def writeBucketedCache(df: DataFrame, table: String, path: String): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCol)
      .option("path", path)
      .saveAsTable(table)

  /** S2 — import the reference's on-disk cache format: one ndjson line per
    * entry, `{"<sentence>": {"<LABEL>": ["<text>", ...], ...}}`
    * (`cacheServer.py:25-39` load, example lines at README.md:78-80).
    * Returns (k, sentence, entity_map) rows keyed by the engine's sha256
    * (the reference's uuid5 keys are derivable from the same sentence, so
    * re-keying is lossless).
    */
  def importReferenceNdjson(spark: SparkSession, path: String): DataFrame =
    parseReferenceNdjson(spark.read.text(path))

  /** The parse half of [[importReferenceNdjson]] over an in-memory `value`
    * line column — lets the driver gate exercise the reference-format
    * parser on lines synthesized from `documents` without a filesystem
    * fixture.
    */
  def parseReferenceNdjson(lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = MapType(StringType,
      MapType(StringType, ArrayType(StringType)))
    lines
      .select(from_json(col("value"), schema).as("m"))
      .select(explode(col("m")).as(Seq("sentence", "entity_map")))
      .withColumn(keyCol, Text.sha256Hex(col("sentence")))
      .select(keyCol, "sentence", "entity_map")
  }

  /** O2 — retention: keep the most recent `keep` entries (reference keeps
    * the last 3M ndjson lines weekly, `ner-clean-cache.sh:9`). Ties broken
    * by key for determinism.
    *
    * This is the SCALE implementation (default path): exact global top-K
    * with no global sort. Phase 1 aggregates the `ingest_ts` histogram —
    * ingest stamps are batch identifiers, so distinct-stamp cardinality is
    * tiny relative to row count — and a window over the histogram finds
    * the cutoff stamp where the running count crosses `keep`. Phase 2
    * keeps all rows newer than the cutoff and tie-breaks rows AT the
    * cutoff stamp by key, windowing only the boundary-stamp rows. Result
    * is row-identical to [[retentionGlobalWindow]] (pinned by spec).
    * Degenerate worst case (every row shares one stamp) falls back to the
    * global-window cost — unavoidable for an exact top-K with total ties.
    */
  def retention(cache: DataFrame, keep: Long): DataFrame = {
    val hist = cache.groupBy("ingest_ts").count()
      .withColumn("cum",
        sum(col("count")).over(Window.orderBy(col("ingest_ts").desc)))
      .withColumn("prev", col("cum") - col("count"))
      .filter(col("prev") < keep)
      .select(col("ingest_ts"), (lit(keep) - col("prev")).as("quota"),
        col("count"))
    val joined = cache.join(broadcast(hist), Seq("ingest_ts"))
    val full = joined.filter(col("quota") >= col("count"))
      .drop("quota", "count")
    val wTie = Window.partitionBy(col("ingest_ts")).orderBy(col(keyCol))
    val tied = joined.filter(col("quota") < col("count"))
      .withColumn("rn", row_number().over(wTie))
      .filter(col("rn") <= col("quota")).drop("rn", "quota", "count")
    full.unionByName(tied)
  }

  /** The literal one-window formulation of [[retention]] — correct but
    * single-reducer (every row sorts through one task); kept as the spec's
    * equivalence oracle and for metadata-sized tables.
    */
  def retentionGlobalWindow(cache: DataFrame, keep: Long): DataFrame = {
    val w = Window.orderBy(col("ingest_ts").desc, col(keyCol))
    cache.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= keep).drop("rn")
  }
}
