package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.ops.PosOps
import graft.sinks.{JdbcUpsertSink, PostgresUpsertDialect, UpsertDialect}
import graft.sources.JdbcSource

/** EP1 — the daily append-only load (`airflow/dags/POS_spark_dag.py:
  * 85–120`): read the day's extract, dropna + full-row dedup (the
  * explicit-schema read replaces the reference's cast chain), append
  * into the warehouse. One Spark write action, executor-parallel, no
  * driver detours. Returns false on an empty extract (the reference's
  * `df.rdd.isEmpty()` guard, POS_spark_dag.py:91).
  *
  * The guard probes `na.drop()` alone: dedup never empties a non-empty
  * set, so the clean-load is empty exactly when no row survives the
  * null drop — and that probe is a narrow scan, not the dedup shuffle
  * the append then runs.
  */
object DailyLoadJob {
  def run(
      extract: DataFrame,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty): Boolean =
    if (extract.na.drop().isEmpty) false
    else { JdbcSource.append(PosOps.cleanLoad(extract), url, table, props); true }
}

/** EP2 — the hourly incremental sync (`POS_spark_dag.py:124–201`):
  * snapshot the warehouse table over JDBC, left-anti join against the
  * fresh extract to find deletions, then DELETE + UPSERT — both
  * executor-parallel through [[JdbcUpsertSink]], where the reference
  * `collect()`s the delete keys AND every fresh row to one Python
  * process (POS_spark_dag.py:164, :172).
  */
class HourlySyncJob(
    url: String,
    connProps: java.util.Properties = new java.util.Properties,
    dialect: UpsertDialect = PostgresUpsertDialect,
    readProps: Map[String, String] = Map.empty) extends Serializable {

  /** Warehouse ← fresh, for one table: delete stale keys, upsert all
    * fresh rows (M3 full-sync semantics).
    *
    * `snapshotScope` is the SURVEY §7.4.3 decision made explicit. The
    * reference anti-joins its FULL warehouse snapshot against only the
    * recently-modified files (`POS_spark_dag.py:155` vs :125–146), so
    * rows living in unmodified files get deleted — bug-compatible
    * parity is `None`. Passing a predicate (e.g. the date/category
    * partitions actually being synced) scopes the deletion to rows the
    * fresh extract can speak for — the corrected mode.
    */
  def syncTable(
      spark: SparkSession,
      table: String,
      key: String,
      fresh: DataFrame,
      snapshotScope: Option[Column] = None): Unit = {
    val full = JdbcSource.read(spark, url, table, readProps)
      .select(fresh.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    val snapshot = snapshotScope.fold(full)(full.filter)
    new JdbcUpsertSink(url, table, Seq(key), connProps, dialect = dialect)
      .sync(snapshot, fresh)
  }

  /** The whole hourly run — the reference's `all_update_data`
    * (`POS_spark_dag.py:417–421`) composed behind one entry point:
    * transactions, then products, then enriched customers, in that
    * order. Ordering is semantic, not incidental: the customer
    * enrichment reads the **warehouse** sales table
    * (`POS_spark_dag.py:365`, `:396`), so it must observe the
    * transactions sync that just ran.
    *
    * The customers variant (`POS_spark_dag.py:281–362`) enriches the
    * fresh customer rows with membership tier and purchase frequency
    * from that sales table in ONE pass computing sum and count fused
    * (the reference scans sales twice over JDBC, :366 and :396), with
    * the reference's constants: the sum of total_price, tiers at
    * 100/500/2000 (`:374–383`), frequency counting sale_id
    * (`:405–406`). Only the table names are deployment settings.
    */
  def runAll(
      spark: SparkSession,
      freshSales: DataFrame,
      freshProducts: DataFrame,
      freshCustomers: DataFrame,
      salesTable: String = "sales",
      productsTable: String = "products",
      customersTable: String = "customers"): Unit = {
    syncTable(spark, salesTable, "sale_id", freshSales)
    syncTable(spark, productsTable, "product_id", freshProducts)
    val warehouseSales = JdbcSource.read(spark, url, salesTable, readProps)
    syncTable(spark, customersTable, "customer_id", PosOps.enrichCustomers(
      freshCustomers, warehouseSales, "customer_id",
      amount = org.apache.spark.sql.functions.col("total_price"), countCol = "sale_id",
      bronzeBelow = 100, silverBelow = 500, goldBelow = 2000))
  }
}
