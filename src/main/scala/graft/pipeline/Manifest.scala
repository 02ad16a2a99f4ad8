package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
  * only when no manifest exists, the input fingerprint changed, or the
  * manifest carries no schema (one written before the field existed).
  *
  * Like an Iceberg snapshot's metadata, the manifest carries the schema,
  * so a stage read infers nothing: no footer-reading schema-inference job,
  * and no directory-name re-typing of partition values (repo="01" stays
  * "01", not 1). Both [[runStage]] paths read the snapshot with that
  * schema.
  */
object Manifest {

  final case class PartitionMetric(partition: String, rows: Long)

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

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

  def exists(spark: SparkSession, warehouse: String, stage: String): Boolean =
    fs(spark, warehouse)
      .exists(new org.apache.hadoop.fs.Path(manifestPath(warehouse, stage)))

  def readManifest(spark: SparkSession, warehouse: String, stage: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(warehouse, stage))
    val f = fs(spark, warehouse)
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
    val total = perPart.map(_._2).sum
    val parts = perPart.map { case (p, n) =>
      s"""{"partition":${jsonStr(p)},"rows":$n}"""
    }.mkString("[", ",", "]")
    val manifest =
      s"""{"stage":${jsonStr(stage)},"rows":$total,""" +
        s""""input_fingerprint":${jsonStr(inputFingerprint)},""" +
        s""""partition_cols":${partitionCols.map(jsonStr).mkString("[", ",", "]")},""" +
        s""""partitions":$parts,""" +
        s""""schema":${jsonStr(df.schema.json)}}"""
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

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonUnescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case 'u' if i + 6 <= s.length &&
              s.substring(i + 2, i + 6).forall(c =>
                Character.digit(c, 16) >= 0) =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Extract a top-level string FIELD from a manifest — a key-anchored
    * parse, not a substring scan: the field's value appearing inside
    * another field (a partition name, the schema JSON) must not read as
    * that field. Inside an escaped JSON string the quote characters are
    * `\"`, so the `"key":"` anchor can only match a real top-level key
    * this writer emitted.
    */
  private def readField(manifest: String, key: String): Option[String] =
    raw""""$key":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(manifest)
      .map(m => jsonUnescape(m.group(1)))

  /** The top-level `input_fingerprint` field, parsed leniently. */
  private[graft] def readFingerprint(manifest: String): Option[String] =
    readField(manifest, "input_fingerprint")

  /** The top-level `rows` field: the committed snapshot's row total. The
    * writer emits it before `partitions`, so the first `"rows":` key is the
    * top-level one; a `"rows":` inside a string value is escaped (`\"`) and
    * cannot match.
    */
  private def readRows(manifest: String): Option[Long] =
    """"rows":(\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)

  /** The committed row total of `stage`, from its manifest (no scan). */
  def committedRows(spark: SparkSession, warehouse: String, stage: String): Long =
    readManifest(spark, warehouse, stage).flatMap(readRows).getOrElse(
      throw new IllegalStateException(s"no committed rows for stage $stage in $warehouse"))

  /** The committed relation's schema; `None` for a manifest without one
    * (or with a schema that no longer parses), which reads as not fresh.
    */
  private def readSchema(manifest: String): Option[StructType] =
    readField(manifest, "schema").flatMap(j =>
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
    readManifest(spark, warehouse, stage)
      .filter(m => readFingerprint(m).contains(inputFingerprint))
      .flatMap(readSchema) match {
      case Some(schema) =>
        spark.read.schema(schema).parquet(s"$warehouse/$stage")
      case None =>
        writeStage(spark, compute, warehouse, stage, partitionCols, inputFingerprint)
    }
}
