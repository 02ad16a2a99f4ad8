package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{KgPipeline, Manifest}
import graft.sources.Tables

/** spark-submit entry point for the full KG-construction pipeline (north
  * rule: "launched via spark-submit"). Stages commit to the warehouse with
  * manifests; re-running resumes from the last committed stage whose input
  * fingerprint still matches.
  *
  * Usage:
  *   spark-submit --class graft.Main <jar> <sfDir> <warehouseDir> [--canon]
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Main <sfDir> <warehouseDir> [--canon]")
    val Array(sfDir, warehouse) = args.take(2)
    val canon = args.contains("--canon")

    // When submitted via spark-submit the master/memory come from the
    // launcher; the builder only fills sane defaults for bare runs.
    val spark = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, sfDir, warehouse, canon)
    println(s"[graft] pipeline complete: $n triples in $warehouse/triples")
    spark.stop()
  }

  /** Order-independent distributed corpus fingerprint — the resumability
    * keystone (stage inputs are re-validated against it on resume). Each
    * row's sha256 is sliced into four 15-hex (60-bit) integers summed as
    * DECIMAL(38,0) with map-side partial aggregation; the four sums + the
    * row count are hashed once. Properties pinned by spec: invariant under
    * partitioning/row order (decimal sums are exact and commutative);
    * sensitive to any single-row content change; O(1) driver and
    * aggregation-buffer memory at any corpus size (the round-1 version
    * collect_list'ed every row hash into ONE reducer).
    */
  def corpusFingerprint(docs: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.types.DecimalType
    val rowHash = sha2(col("content"), 256)
    val slices = (0 until 4).map(i =>
      sum(conv(substring(rowHash, i * 16 + 1, 15), 16, 10)
        .cast(DecimalType(38, 0))).cast("string").as(s"s$i"))
    docs.agg(count(lit(1)).cast("string").as("n"), slices: _*)
      .select(sha2(concat_ws("|",
        col("n") +: (0 until 4).map(i => col(s"s$i")): _*), 256))
      .collect()(0).getString(0)
  }

  /** The resumable staged pipeline (separated from main so tests can drive
    * it on a shared session). Returns the triple count.
    */
  def run(spark: SparkSession, sfDir: String, warehouse: String,
      canon: Boolean): Long = {
    // stage 0: source snapshot (sha256 row invariant recorded as the
    // downstream input fingerprint — BASELINE.json per-row invariant).
    // Order-independent DISTRIBUTED digest: each row's sha256 is sliced
    // into four 15-hex (60-bit) integers summed as DECIMAL(38,0) with
    // map-side partial aggregation, then the four sums + the row count are
    // hashed once. O(1) driver and aggregation-buffer memory at any corpus
    // size — the previous collect_list of every row hash concentrated all
    // N digests in ONE reducer (a ~64 TB string at 10^12 rows).
    val docs = Tables.docsDf(spark, sfDir)
    val corpusFp = Main.corpusFingerprint(docs)

    val docsCommitted = Manifest.runStage(spark, warehouse, "docs",
      Seq("repo", "lang"), corpusFp)(docs)

    val mentions = Manifest.runStage(spark, warehouse, "mentions",
      Seq("repo", "lang"), corpusFp) {
      KgPipeline.sentenceMentions(docsCommitted)
    }

    val links = Manifest.runStage(spark, warehouse, "links",
      Seq("repo", "lang"), corpusFp) {
      KgPipeline.links(spark, mentions)
    }

    val canonMap = if (canon) Some(
      Manifest.runStage(spark, warehouse, "canon_map", Seq.empty, corpusFp) {
        KgPipeline.canonMap(spark, links)
      }) else None

    // The GLOBAL distinct (the default, not assumeUniqueDocs) deliberately:
    // `links` here is the COMMITTED snapshot, and a committed file
    // re-splits on read (maxPartitionBytes), so one document's duplicate
    // rows can span read partitions — the co-partitioned-duplicates
    // contract LocalDistinct needs does not hold on snapshot reads, only
    // on the in-memory narrow lineage.
    val triples = Manifest.runStage(spark, warehouse, "triples",
      Seq("repo", "lang"), corpusFp) {
      KgPipeline.linkTriples(links, canonMap)
    }

    triples.count()
  }
}
