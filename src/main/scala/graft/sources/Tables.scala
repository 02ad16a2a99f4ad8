package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source adapters (S1-S4 of SURVEY.md §2).
  *
  * The engine's authoritative input shape is the `input_hint` Iceberg table
  * `(repo, path, commit, lang, content)`. The driver bench tables expose
  * `documents.parquet(doc_id, text, lang, source, n_chars)`; [[docsDf]] maps
  * them onto the Doc contract per FIXTURES.md §7:
  * `repo=source, path="docs/<doc_id>.txt", commit=sha256-derived, lang=lang,
  * content=text`.
  */
object Tables {

  /** Every driver table's schema. Each sf dir (sf0.001 to sf0.1) and the
    * benchmark's copies have exactly these types (timestamps are pyarrow
    * `timestamp("us")`, no zone), so a read launches no footer-reading
    * schema-inference job.
    */
  private[graft] val schemas: Map[String, StructType] = Map(
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem")

  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders")

  def customer(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "customer")

  def nation(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "nation")

  def events(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "events")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings")

  /** documents.parquet mapped onto the input_hint Doc contract. Pure
    * Catalyst (column pruning + pushdown reach the parquet scan).
    */
  def docsDf(spark: SparkSession, dir: String): DataFrame =
    docsDfWithId(spark, dir).drop("doc_id")

  /** [[docsDf]] plus the source `doc_id` — for callers needing a
    * deterministic per-doc key the twin can recompute (the stream_kg
    * replay's micro-batch assignment).
    */
  def docsDfWithId(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(
      col("doc_id"),
      col("source").as("repo"),
      concat(lit("docs/"), col("doc_id"), lit(".txt")).as("path"),
      substring(sha2(concat_ws("/", col("source"), col("doc_id")), 256), 1, 40)
        .as("commit"),
      col("lang"),
      col("text").as("content"))
}
