package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.jobs.{DailyLoadJob, HourlySyncJob}
import graft.sinks.DeleteInsertUpsertDialect
import graft.streaming.{Ingest, TableStore}

/** The whole reference platform, end to end in one test: UI events →
  * Kafka wire format → streaming ingest materializing the table store
  * (EP3) → daily append load into the warehouse (EP1) → a later edit/
  * remove batch → hourly incremental sync reconciling the warehouse
  * (EP2). Asserts the final warehouse state a reference user would see.
  */
class PlatformSpec extends SparkTestBase {
  import spark.implicits._

  test("events → ingest → store → daily load → edits → hourly sync") {
    val url = "jdbc:derby:memory:platform;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sales (sale_id BIGINT PRIMARY KEY, " +
        "customer_id INT, product_id INT, quantity INT, total_price DOUBLE)")
      st.close()
    } finally c.close()
    val dir = java.nio.file.Files.createTempDirectory("graft-platform").toString
    val store = new TableStore(s"$dir/store")

    // --- EP3 batch 1: three sales arrive through the producer wire format ---
    def saleJson(date: String, cust: Int, prod: Int, qty: Int, price: Double) =
      s"""{"sale_date":"$date","customer_id":$cust,"product_id":$prod,""" +
        s""""quantity":$qty,"price":$price,"total_price":${qty * price},""" +
        s""""payment_method":"Cash"}"""
    val b1 = Seq(
      ("transactions_sale", saleJson("2025-02-01 09:00:00", 1, 101, 2, 5.0), 0L),
      ("transactions_sale", saleJson("2025-02-01 09:05:00", 2, 102, 1, 30.0), 1L),
      ("transactions_sale", saleJson("2025-02-01 09:10:00", 1, 103, 3, 4.0), 2L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b1, store)

    // --- EP1: daily load of the materialized sales into the warehouse ---
    val sales1 = store.read(spark, "sales", Ingest.saleSchema)
      .select("sale_id", "customer_id", "product_id", "quantity", "total_price")
    assert(DailyLoadJob.run(sales1, url, "sales"))

    // --- EP3 batch 2: one edit, one remove, one new sale ---
    val b2 = Seq(
      ("transactions_edit",
        """{"sale_id":1,"sale_date":"2025-02-01 09:00:00","customer_id":1,""" +
          """"product_id":101,"quantity":5,"price":5.0,"total_price":25.0,""" +
          """"payment_method":"Cash"}""", 0L),
      ("transactions_remove", """{"sale_id":2}""", 1L),
      ("transactions_sale", saleJson("2025-02-01 11:00:00", 3, 104, 1, 9.0), 2L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b2, store)

    // --- EP2: hourly sync reconciles the warehouse with the store ---
    val fresh = store.read(spark, "sales", Ingest.saleSchema)
      .select("sale_id", "customer_id", "product_id", "quantity", "total_price")
    new HourlySyncJob(url, dialect = DeleteInsertUpsertDialect)
      .syncTable(spark, "sales", "sale_id", fresh)

    // final warehouse: sale 1 edited (qty 5, 25.0), sale 2 deleted,
    // sale 3 untouched, sale 4 inserted
    val got = {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT sale_id, customer_id, quantity, total_price FROM sales")
        val buf = scala.collection.mutable.Set[(Long, Int, Int, Double)]()
        while (rs.next())
          buf += ((rs.getLong(1), rs.getInt(2), rs.getInt(3), rs.getDouble(4)))
        buf.toSet
      } finally conn.close()
    }
    assert(got == Set(
      (1L, 1, 5, 25.0),
      (3L, 1, 3, 12.0),
      (4L, 3, 1, 9.0)))
  }

  test("daily load of an all-null extract returns false and leaves the " +
    "warehouse unchanged") {
    val url = "jdbc:derby:memory:platform_nulls;create=true"
    def rows(): Set[(Long, Int)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT sale_id, quantity FROM sales")
        val buf = scala.collection.mutable.Set[(Long, Int)]()
        while (rs.next()) buf += ((rs.getLong(1), rs.getInt(2)))
        buf.toSet
      } finally c.close()
    }
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sales (sale_id BIGINT PRIMARY KEY, quantity INT)")
      st.execute("INSERT INTO sales VALUES (1, 2)")
      st.close()
    } finally c.close()
    // every row carries a null, so the clean-load drops them all
    val extract = Seq[(Option[Long], Option[Int])](
      (None, None), (Some(2L), None), (None, Some(3)))
      .toDF("sale_id", "quantity")
    assert(!DailyLoadJob.run(extract, url, "sales"))
    assert(rows() == Set(1L -> 2))
  }
}
