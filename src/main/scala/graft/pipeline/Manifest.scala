package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.JsonUtil

/** Per-stage checkpoint commits with lineage + row-count metrics — the
  * north rule's "resumes from the last committed Iceberg snapshot" clause,
  * emulated over partitioned Parquet (no Iceberg runtime jar ships in
  * `/opt/spark/jars`; the layout is kept Iceberg-shaped — data partitioned
  * by the spec columns + a JSON manifest — so a real catalog can be swapped
  * in without touching callers).
  *
  * A stage commit is atomic-enough for resume purposes: data lands first,
  * the manifest (with per-partition row counts, the input fingerprint and
  * the committed relation's schema) lands last; [[runStage]] recomputes
  * only when no manifest exists, the input fingerprint changed, the
  * manifest carries no schema (one written before the field existed), or
  * it does not parse. [[graft.JsonUtil]]'s jackson mapper writes and reads
  * it.
  *
  * Like an Iceberg snapshot's metadata, the manifest carries the schema,
  * so a stage read infers nothing: no footer-reading schema-inference job,
  * and no directory-name re-typing of partition values (repo="01" stays
  * "01", not 1). Both [[runStage]] paths read the snapshot with that
  * schema.
  */
object Manifest {

  /** Hadoop options of a stage commit, data and manifest alike: a `file:`
    * warehouse is written through [[NioLocalFileSystem]], which sets the
    * stock permission bits without forking `chmod`. Uncached, since the
    * FileSystem cache keys on scheme and user, not on the conf. Spark copies
    * writer options into the write's Hadoop conf, which reaches the job
    * committer and every task, so the session's filesystems stay stock;
    * other schemes ignore the `file` key.
    */
  private val commitFsOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def manifestPath(warehouse: String, stage: String): String =
    s"$warehouse/$stage/_manifest.json"

  def readManifest(spark: SparkSession, warehouse: String, stage: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(warehouse, stage))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Write a stage's output partitioned by `partitionCols`, then commit the
    * manifest: stage name, total rows, the caller-supplied input
    * fingerprint, per-partition row counts (lineage metrics), and the
    * schema of `df`. Returns the committed relation, read with that schema.
    */
  def writeStage(spark: SparkSession, df: DataFrame, warehouse: String,
      stage: String, partitionCols: Seq[String],
      inputFingerprint: String = ""): DataFrame = {
    val out = s"$warehouse/$stage"
    // Co-locate each output partition's rows before the partitioned write
    // (the north rule's explicit repartition by repo/lang): without it,
    // every task writes one file per (repo, lang) value it happens to hold
    // — tasks × partitions small files at corpus scale. Trade-off: write
    // parallelism is bounded by the distinct partition-value count, and a
    // skewed value serializes in one task; when that bites, swap for the
    // AQE rebalance hint (splits oversized output partitions).
    val toWrite =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df
    val writer = toWrite.write.options(commitFsOptions).mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(out)
    // Lineage metrics from the COMMITTED snapshot, not from a cache of the
    // stage lineage: caching a corpus-scale stage just to count it spills
    // the whole stage to executor disk; counting the committed parquet is
    // a metadata-cheap scan (row counts from footers, partition values
    // from directory names) and records what was actually written.
    // The partitioned read re-INFERS partition column types from directory
    // names: a numeric-looking partition value (repo="1e5", lang="01")
    // would come back re-typed and render a different manifest key
    // (100000.0 / 1) than what was written — and once inference has
    // collapsed "1e5" to 100000.0 no cast recovers the original. Supplying
    // the source schema to the read skips the inference entirely: partition
    // directory values are parsed directly as the declared types.
    val committed = spark.read.schema(df.schema).parquet(out)
    val perPart: Seq[(String, Long)] =
      if (partitionCols.nonEmpty)
        committed.groupBy(partitionCols.map(col): _*).count()
          .collect()
          .map(r => partitionCols.indices.map(r.get(_)).mkString("/") ->
            r.getLong(partitionCols.length))
          .toSeq.sortBy(_._1)
      else Seq("(all)" -> committed.count())
    // Key order is part of the format: `rows` precedes `partitions`, so a
    // first-match `"rows":` reader takes the top-level total.
    val m = JsonUtil.mapper.createObjectNode()
      .put("stage", stage)
      .put("rows", perPart.map(_._2).sum)
      .put("input_fingerprint", inputFingerprint)
    val cols = m.putArray("partition_cols")
    partitionCols.foreach(c => cols.add(c))
    val parts = m.putArray("partitions")
    perPart.foreach { case (p, n) => parts.addObject().put("partition", p).put("rows", n) }
    m.put("schema", df.schema.json)
    val manifest = JsonUtil.mapper.writeValueAsString(m)
    val p = new org.apache.hadoop.fs.Path(manifestPath(warehouse, stage))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    commitFsOptions.foreach { case (k, v) => conf.set(k, v) }
    // Not closed: the uncached local instance holds no resources, and any
    // other scheme returns the session's cached instance, which stays open.
    val o = p.getFileSystem(conf).create(p, true)
    try o.write(manifest.getBytes("UTF-8")) finally o.close()
    committed
  }

  /** A top-level string field of a parsed manifest. */
  private def text(m: JsonNode, key: String): Option[String] =
    Option(m.get(key)).filter(_.isTextual).map(_.textValue)

  /** The top-level `input_fingerprint` field; `None` for a manifest that
    * does not parse (the stage then recomputes).
    */
  private[graft] def readFingerprint(manifest: String): Option[String] =
    JsonUtil.parse(manifest).flatMap(text(_, "input_fingerprint"))

  /** The committed row total of `stage`, from its manifest (no scan). */
  def committedRows(spark: SparkSession, warehouse: String, stage: String): Long =
    readManifest(spark, warehouse, stage).flatMap(JsonUtil.parse)
      .flatMap(m => Option(m.get("rows")).filter(_.canConvertToLong))
      .map(_.longValue).getOrElse(
        throw new IllegalStateException(s"no committed rows for stage $stage in $warehouse"))

  /** The committed relation's schema; `None` for a manifest without one
    * (or with a schema that no longer parses), which reads as not fresh.
    */
  private def readSchema(m: JsonNode): Option[StructType] =
    text(m, "schema").flatMap(j =>
      scala.util.Try(DataType.fromJson(j)).toOption.collect {
        case s: StructType => s
      })

  /** Run-or-resume: if the stage has a committed manifest whose input
    * fingerprint matches, read the committed data with the manifest's
    * schema; otherwise compute, commit, and return the committed relation
    * (so downstream stages read the snapshot, not the lineage). Neither
    * path launches a schema-inference job.
    */
  def runStage(spark: SparkSession, warehouse: String, stage: String,
      partitionCols: Seq[String], inputFingerprint: String)
      (compute: => DataFrame): DataFrame =
    readManifest(spark, warehouse, stage).flatMap(JsonUtil.parse)
      .filter(m => text(m, "input_fingerprint").contains(inputFingerprint))
      .flatMap(readSchema) match {
      case Some(schema) =>
        spark.read.schema(schema).parquet(s"$warehouse/$stage")
      case None =>
        writeStage(spark, compute, warehouse, stage, partitionCols, inputFingerprint)
    }
}
