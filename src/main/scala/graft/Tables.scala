package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * One parquet file per table. At 100 TB each of these would be a
  * partitioned parquet/iceberg-style directory; `spark.read.parquet`
  * handles both transparently (glob/dir reads union files natively —
  * replaces the reference's per-file read+concat loop,
  * kafka_producer.py:273–282).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** S1/S8 — CSV scan with an EXPLICIT schema (the engine never uses
    * `inferSchema`, which costs an extra full pass per file —
    * `POS_spark_dag.py:143–146` does; the daily job's all-string read +
    * cast chain at :90–104 is subsumed by the typed schema). A
    * directory or glob path unions all matching files natively (the
    * reference's per-file read + concat loop,
    * kafka_producer.py:273–282).
    */
  def loadCsv(
      spark: SparkSession,
      pathOrGlob: String,
      schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .csv(pathOrGlob)

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.parquet` has shipped with two physical `ts` layouts:
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * by default — read nanos as long and integral-`div` to microseconds;
    * a double division would lose precision above 2^53 ns) and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark reads as
    * TIMESTAMP_NTZ — cast to the session-zone TimestampType; the
    * session is pinned UTC, so the micros value is unchanged). Dispatch
    * on the loaded type so either vintage of the table reads
    * identically.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Typed loader per table name (the `events` entry applies its
    * nanos-timestamp handling) — lets harnesses iterate all tables.
    */
  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)
}
