package graft

import java.math.BigInteger

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.functions.Text
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
  val usage = "usage: graft.Main <sfDir> <warehouseDir> [--canon]"

  /** `<sfDir> <warehouseDir> [--canon]` as (sfDir, warehouseDir, canon).
    * Anything else fails with [[usage]]: a missing or extra argument, a
    * misspelt flag (`--Canon`, `-canon`) or a flag in a path's place. A
    * flag that is silently dropped builds a non-canon KG, which a later
    * `--canon` run resumes under the same fingerprint.
    */
  def parseArgs(args: Seq[String]): (String, String, Boolean) = {
    def path(a: String) = !a.startsWith("-")
    args match {
      case Seq(sf, wh) if path(sf) && path(wh) => (sf, wh, false)
      case Seq(sf, wh, "--canon") if path(sf) && path(wh) => (sf, wh, true)
      case _ => throw new IllegalArgumentException(usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, warehouse, canon) = parseArgs(args.toSeq)

    val spark = SparkSession.builder()
      .config(sessionConf(new SparkConf(), sys.env))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = run(spark, sfDir, warehouse, canon)
    println(s"[graft] pipeline complete: $n triples in $warehouse/triples")
    spark.stop()
  }

  /** The session conf of a [[main]] run. `submitted` is what spark-submit
    * passed (`new SparkConf()` loads its `spark.*` system properties): a
    * submitted master or shuffle partition count wins, and only a bare run
    * gets the defaults `local[SPARK_GRAFT_CPUS]` (or `SPARK_GRAFT_MASTER`)
    * and `SPARK_GRAFT_CPUS` partitions, 32 when unset.
    */
  def sessionConf(submitted: SparkConf, env: Map[String, String]): SparkConf = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "32")
    submitted.clone()
      .setAppName("graft-kg-pipeline")
      .setIfMissing("spark.master",
        env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .setIfMissing("spark.sql.shuffle.partitions", cpus)
      .set("spark.sql.adaptive.enabled", "true")
      .set("spark.sql.adaptive.skewJoin.enabled", "true")
      .set("spark.sql.session.timeZone", "UTC")
  }

  /** Order-independent distributed corpus fingerprint — the resumability
    * keystone (every stage's input fingerprint). Each row's sha256 of
    * `content` is sliced into four 15-hex (60-bit) integers; each partition
    * sums them exactly, and one RDD `fold` (not `reduce`: an RDD may have
    * no partitions) merges the partitions — one pass, one Spark job, O(1)
    * driver memory. The driver hashes `n|s0|s1|s2|s3`. Null `content` rows
    * count in `n` only, and with no non-null row the sums are left out, as
    * `concat_ws` skipped the null sums of the former DataFrame aggregate:
    * the digest is byte-identical to it (parity spec against that twin).
    * Invariant under partitioning and row order; sensitive to any
    * single-row content change.
    */
  def corpusFingerprint(docs: DataFrame): String = {
    val zero = Array.fill(6)(BigInteger.ZERO)
    val Array(n, hashed, sums @ _*) =
      (docs.select(sha2(col("content"), 256)).queryExecution.toRdd
        .mapPartitions(rows => Iterator(sliceSums(rows)))
        .fold(zero)((a, b) => a.zip(b).map { case (x, y) => x.add(y) }): @unchecked)
    Text.sha256HexScalar((if (hashed.signum == 0) Seq(n) else n +: sums).mkString("|"))
  }

  /** One partition's (row count, non-null hash count, four slice sums) of
    * [[corpusFingerprint]].
    */
  private def sliceSums(rows: Iterator[InternalRow]): Array[BigInteger] = {
    var n = 0L
    var hashed = 0L
    val sums = Array.fill(4)(BigInteger.ZERO)
    rows.foreach { r =>
      n += 1
      if (!r.isNullAt(0)) {
        hashed += 1
        val hex = r.getUTF8String(0).toString
        for (i <- 0 until 4)
          sums(i) = sums(i).add(BigInteger.valueOf(
            java.lang.Long.parseLong(hex, i * 16, i * 16 + 15, 16)))
      }
    }
    Array(BigInteger.valueOf(n), BigInteger.valueOf(hashed)) ++ sums
  }

  /** The resumable staged pipeline (separated from main so tests can drive
    * it on a shared session). Returns the triple count: the `rows` of the
    * committed `triples` manifest, which `writeStage` counted from the
    * committed snapshot, so a resume re-scans nothing. Every stage is
    * fingerprinted with the corpus fingerprint. Stages are opened on
    * demand: a stage is read or computed only when a downstream stage's
    * computation needs it, so a cold build forces every stage in order,
    * and a fresh resume reads the `triples` manifest alone, opens no
    * snapshot and runs one Spark job, the fingerprint scan. A stale stage
    * whose consumer is fresh stays as it is (make-style).
    */
  def run(spark: SparkSession, sfDir: String, warehouse: String,
      canon: Boolean): Long = {
    val docs = Tables.docsDf(spark, sfDir)
    val corpusFp = Main.corpusFingerprint(docs)
    val part = Seq("repo", "lang")
    def stage(name: String, cols: Seq[String])(compute: => DataFrame) =
      Manifest.runStage(spark, warehouse, name, cols, corpusFp)(compute)

    lazy val docsCommitted = stage("docs", part)(docs)
    lazy val mentions = stage("mentions", part) {
      KgPipeline.sentenceMentions(docsCommitted)
    }
    lazy val links = stage("links", part)(KgPipeline.links(spark, mentions))
    lazy val canonMap = Option.when(canon)(
      stage("canon_map", Seq.empty)(KgPipeline.canonMap(spark, links)))

    // The GLOBAL distinct (the default, not assumeUniqueDocs) deliberately:
    // `links` here is the COMMITTED snapshot, and a committed file
    // re-splits on read (maxPartitionBytes), so one document's duplicate
    // rows can span read partitions — the co-partitioned-duplicates
    // contract LocalDistinct needs does not hold on snapshot reads, only
    // on the in-memory narrow lineage.
    if (Manifest.freshSchema(spark, warehouse, "triples", corpusFp).isEmpty)
      Manifest.writeStage(spark, KgPipeline.linkTriples(links, canonMap),
        warehouse, "triples", part, corpusFp)

    Manifest.committedRows(spark, warehouse, "triples")
  }
}
