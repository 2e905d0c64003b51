package graft

import org.apache.spark.sql.functions._
import graft.streaming.{Ingest, TableStore}

/** Streaming-ingest semantics (EP3), tested in batch form: the event
  * sequences of FIXTURES.md §A4 — insert→edit→remove, same-key
  * collisions, edit-on-missing-key — plus the sale-id numbering and
  * the full micro-batch → TableStore path.
  */
class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private def table(rows: (Int, String)*) = rows.toDF("id", "val")
  private def events(rows: (String, Long, Int, String)*) =
    rows.toDF("kind", "seq", "id", "val")

  test("applyEvents replays add/edit/remove sequences per key in seq order") {
    val current = table(1 -> "a", 2 -> "b")
    val evs = events(
      ("edit", 1L, 1, "a2"),    // valid: key in current
      ("edit", 2L, 99, "x"),    // no-op: key never existed (ref kafka_consumer.py:153–155)
      ("remove", 3L, 2, ""),    // delete
      ("edit", 4L, 2, "b2"),    // no-op: key removed earlier in batch
      ("add", 5L, 3, "c"),
      ("edit", 6L, 3, "c2"),    // valid: created by the earlier add
      ("add", 7L, 4, "d"),
      ("remove", 8L, 4, ""),
      ("add", 9L, 4, "d2"))     // re-add after remove wins
    val got = Ingest.applyEvents(current, evs, "id")
      .as[(Int, String)].collect().toSet
    assert(got == Set(1 -> "a2", 3 -> "c2", 4 -> "d2"))
  }

  test("applyEvents same-key collision: highest seq wins deterministically") {
    val current = table(1 -> "a")
    val evs = events(
      ("edit", 10L, 1, "v10"),
      ("edit", 30L, 1, "v30"),
      ("edit", 20L, 1, "v20"))
    val got = Ingest.applyEvents(current, evs, "id")
      .as[(Int, String)].collect().toSet
    assert(got == Set(1 -> "v30"))
  }

  test("applyEvents remove of a missing key is a no-op") {
    val current = table(1 -> "a")
    val got = Ingest.applyEvents(current, events(("remove", 1L, 9, "")), "id")
      .as[(Int, String)].collect().toSet
    assert(got == Set(1 -> "a"))
  }

  test("parseEntity drops corrupt JSON instead of emitting null-keyed rows") {
    val raw = Seq(
      ("customers_add", """{"customer_id":1,"customer_name":"Ann","customer_location":"X"}""", 0L),
      ("customers_add", """not json at all {{{""", 1L),
      ("customers_add", "", 2L))
      .toDF("topic", "value", "seq")
    val got = Ingest.parseEntity(raw, Ingest.customerTopics, Ingest.customerSchema)
      .select("customer_id").as[Int].collect().toSeq
    assert(got == Seq(1), "only the well-formed event survives")
  }

  test("toKafkaPayload roundtrips through parseEntity (producer↔consumer wire format)") {
    val products = Seq((11, "Milk", "desc", "Daily", 2.5, 7))
      .toDF("product_id", "product_name", "product_description",
        "product_category", "product_price", "stock_level")
    val payload = Ingest.toKafkaPayload(products, "products_add")
      .withColumn("seq", lit(0L))
    val parsed = Ingest.parseEntity(payload, Ingest.productTopics, Ingest.productSchema)
    val got = parsed
      .select("kind", "product_id", "product_name", "product_price", "stock_level")
      .as[(String, Int, String, Double, Int)].collect().toSeq
    assert(got == Seq(("add", 11, "Milk", 2.5, 7)))
  }

  test("startIngest drives micro-batches from a brokerless stream into the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val store = new TableStore(s"$dir/store")

    val ms = MemoryStream[(String, String, Long)]
    ms.addData(
      ("customers_add", """{"customer_id":1,"customer_name":"Ann","customer_location":"BKK"}""", 0L),
      ("customers_add", """{"customer_id":2,"customer_name":"Bob","customer_location":"CNX"}""", 1L),
      ("customers_edit", """{"customer_id":2,"customer_name":"Bobby","customer_location":"CNX"}""", 2L),
      ("customers_remove", """{"customer_id":1}""", 3L))
    val raw = ms.toDF().toDF("topic", "value", "seq")
    val q = Ingest.startIngest(spark, raw, store, s"$dir/ckpt")
    q.processAllAvailable()
    q.stop()

    val got = store.read(spark, "customers", Ingest.customerSchema)
      .select("customer_id", "customer_name").as[(Int, String)].collect().toSet
    assert(got == Set(2 -> "Bobby"))
  }

  test("windowedCounts: closed windows emit once, late data beyond watermark is dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = Ingest.windowedCounts(
      ms.toDF().toDF("ts", "event_type", "value"), "1 hour", "1 hour")
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    try {
      ms.addData((ts("2025-01-01 10:10:00"), "a", 1.0),
                 (ts("2025-01-01 10:20:00"), "a", 2.0))
      q.processAllAvailable() // watermark 09:20 — window [10,11) still open
      ms.addData((ts("2025-01-01 13:00:00"), "a", 5.0))
      q.processAllAvailable() // advances watermark to 12:00
      ms.addData((ts("2025-01-01 10:30:00"), "a", 99.0))
      q.processAllAvailable() // closes [10,11); the 10:30 event is late → dropped
      val got = spark.table("wc")
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      assert(got == Set((ts("2025-01-01 10:00:00"), "a", 2L, 3.0)),
        "exactly the closed window, without the late event")
    } finally q.stop()
  }

  test("StockState: checkpointed per-product levels carry across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.StockState
    import graft.streaming.StockState.{Sale, Stock}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ms = MemoryStream[Sale]
    val levels = StockState.stockLevels(spark, ms.toDS(), Map(1 -> 100, 2 -> 50))
    val q = levels.writeStream.format("memory").queryName("stock")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(Sale(1, 10), Sale(1, 5), Sale(2, 20))
      q.processAllAvailable()
      val afterB1 = spark.table("stock").as[Stock].collect()
        .groupBy(_.product_id).map { case (k, v) => k -> v.last.stock_level }
      assert(afterB1 == Map(1 -> 85, 2 -> 30))
      ms.addData(Sale(1, 1), Sale(3, 7)) // unseeded key starts at 0 → negative ok
      q.processAllAvailable()
      val all = spark.table("stock").as[Stock].collect()
      assert(all.filter(_.product_id == 1).map(_.stock_level).min == 84,
        "state must carry 85 across batches, not reset to initial")
      assert(all.filter(_.product_id == 3).map(_.stock_level).toSet == Set(-7))
    } finally q.stop()
  }

  test("TableStore: versioned overwrite flips atomically; sortBy orders within files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new TableStore(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    assert(store.read(spark, "t", schema).isEmpty, "missing table reads empty")
    store.overwrite("t", Seq(3 -> "c", 1 -> "a", 2 -> "b").toDF("id", "v"),
      sortBy = Seq("id"))
    assert(store.currentVersion("t").contains(1L))
    val got = store.read(spark, "t", schema).as[(Int, String)].collect()
    assert(got.toSet == Set(1 -> "a", 2 -> "b", 3 -> "c"))
    store.overwrite("t", Seq(9 -> "z").toDF("id", "v"))
    assert(store.currentVersion("t").contains(2L))
    assert(store.read(spark, "t", schema).as[(Int, String)].collect().toSeq
      == Seq(9 -> "z"))
  }

  test("TableStore.readAt: pinned snapshots time-travel inside the retention window") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    // keepVersions=3: after three writes, v1..v3 all readable
    val dir3 = java.nio.file.Files.createTempDirectory("graft-tt3").toString
    val s3 = new TableStore(dir3, keepVersions = 3)
    s3.overwrite("t", Seq(1 -> "one").toDF("id", "v"))
    s3.overwrite("t", Seq(2 -> "two").toDF("id", "v"))
    s3.overwrite("t", Seq(3 -> "three").toDF("id", "v"))
    assert(s3.currentVersion("t").contains(3L))
    assert(s3.readAt(spark, "t", schema, 1L).as[(Int, String)].collect().toSeq
      == Seq(1 -> "one"), "pinned v1 must replay exactly")
    assert(s3.readAt(spark, "t", schema, 2L).as[(Int, String)].collect().toSeq
      == Seq(2 -> "two"))
    assert(s3.read(spark, "t", schema).as[(Int, String)].collect().toSeq
      == Seq(3 -> "three"), "unpinned read serves the current snapshot")
    // default retention (2): after the third write v1 is retired and a
    // pinned read FAILS FAST instead of silently serving another version
    val dir2 = java.nio.file.Files.createTempDirectory("graft-tt2").toString
    val s2 = new TableStore(dir2)
    s2.overwrite("t", Seq(1 -> "one").toDF("id", "v"))
    s2.overwrite("t", Seq(2 -> "two").toDF("id", "v"))
    s2.overwrite("t", Seq(3 -> "three").toDF("id", "v"))
    assert(s2.readAt(spark, "t", schema, 2L).as[(Int, String)].collect().toSeq
      == Seq(2 -> "two"))
    val ex = intercept[IllegalArgumentException] {
      s2.readAt(spark, "t", schema, 1L)
    }
    assert(ex.getMessage.contains("retired"))
    // partitioned time-travel: the pinned snapshot's manifest governs
    val dirP = java.nio.file.Files.createTempDirectory("graft-ttp").toString
    val sp = new TableStore(dirP, keepVersions = 3)
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.StringType)))
    sp.overwrite("p", Seq(1 -> "d1", 2 -> "d2").toDF("id", "day"),
      partitionBy = Seq("day"))
    sp.overwritePartitions("p", Seq(9 -> "d2").toDF("id", "day"), "day", Seq("d2"))
    assert(sp.read(spark, "p", pSchema).as[(Int, String)].collect().toSet
      == Set(1 -> "d1", 9 -> "d2"))
    assert(sp.readAt(spark, "p", pSchema, 1L).as[(Int, String)].collect().toSet
      == Set(1 -> "d1", 2 -> "d2"),
      "pinned v1 still sees the pre-rewrite partition content")
  }

  test("TableStore: compare-and-flip aborts a raced rewrite; aborts leave no staging") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas").toString
    val store = new TableStore(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def children(table: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir, table)
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toList
      finally s.close()
    }
    store.overwrite("t", Seq(1 -> "one").toDF("id", "v"))
    val v0 = store.currentVersion("t")
    // an epoch lands after the rewrite snapshotted v0 (the
    // compactNearDups race): the CAS publish must abort and the
    // racer's data must survive
    store.overwrite("t", Seq(2 -> "two").toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      store.overwrite("t", Seq(9 -> "stale").toDF("id", "v"),
        expectVersion = Some(v0))
    }
    assert(ex.getMessage.contains("concurrent write"))
    assert(store.read(spark, "t", schema).as[(Int, String)].collect().toSeq
      == Seq(2 -> "two"), "the raced write must be intact")
    assert(!children("t").exists(_.startsWith("_stage-")),
      "an aborted publish must not leave a staging dir")
    // a validation failure AFTER the write job (rows outside the
    // declared partitions) aborts inside publish: staging cleaned,
    // no v= dir beyond the current version
    val sp = new TableStore(
      java.nio.file.Files.createTempDirectory("graft-cas-p").toString)
    sp.overwrite("p", Seq(1 -> "d1").toDF("id", "day"),
      partitionBy = Seq("day"))
    intercept[IllegalArgumentException] {
      sp.overwritePartitions("p", Seq(2 -> "d2").toDF("id", "day"),
        "day", touched = Seq("d1"))
    }
    assert(sp.currentVersion("p").contains(1L),
      "a failed partition-scoped write must not flip the pointer")
  }

  test("StreamDedup.firstSeen: duplicates suppressed within and across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ms = MemoryStream[(String, Int)]
    val deduped = StreamDedup.firstSeen[String, (String, Int)](
      spark, ms.toDS(), _._1)
    val q = deduped.writeStream.format("memory").queryName("sd")
      .outputMode("append").start()
    try {
      ms.addData(("a", 1), ("a", 2), ("b", 3)) // in-batch dup of a
      q.processAllAvailable()
      ms.addData(("a", 4), ("c", 5))           // cross-batch dup of a
      q.processAllAvailable()
      val got = spark.table("sd").as[(String, Int)].collect().toSet
      assert(got.map(_._1) == Set("a", "b", "c"), "each key exactly once")
      assert(got.contains(("b", 3)) && got.contains(("c", 5)))
      assert(got.count(_._1 == "a") == 1, "later duplicates of 'a' suppressed")
    } finally q.stop()
  }

  test("TableStore partitioned write: filters prune to matching partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val store = new TableStore(dir)
    val df = Seq((1, "Daily", 2.0), (2, "Meat", 3.0), (3, "Daily", 4.0))
      .toDF("product_id", "product_category", "price")
    store.overwrite("products", df, partitionBy = Seq("product_category"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("product_id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("product_category", org.apache.spark.sql.types.StringType)))
    val q = store.read(spark, "products", schema)
      .filter(col("product_category") === "Daily")
    assert(q.select("product_id").as[Int].collect().sorted.toSeq == Seq(1, 3))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("product_category"),
      s"partition filter must reach the scan:\n$plan")
  }

  test("applyMicroBatch end-to-end: sales ids, edits, removes land in the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val store = new TableStore(dir)

    def sale(date: String, cust: Int, prod: Int, qty: Int, price: Double) =
      s"""{"sale_date":"$date","customer_id":$cust,"product_id":$prod,""" +
        s""""quantity":$qty,"price":$price,"total_price":${qty * price},""" +
        s""""payment_method":"Cash"}"""

    // batch 1: three sales, arrival order = seq → ids 1, 2, 3
    val b1 = Seq(
      ("transactions_sale", sale("2025-01-01 10:00:00", 1, 101, 2, 5.0), 0L),
      ("transactions_sale", sale("2025-01-01 10:01:00", 2, 102, 1, 3.0), 1L),
      ("transactions_sale", sale("2025-01-01 10:02:00", 3, 103, 4, 2.5), 2L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b1, store)
    val s1 = store.read(spark, "sales", Ingest.saleSchema)
      .select("sale_id", "customer_id").as[(Long, Int)].collect().toSet
    assert(s1 == Set(1L -> 1, 2L -> 2, 3L -> 3))

    // batch 2: edit sale 2, remove sale 3, one new sale → id 4
    val b2 = Seq(
      ("transactions_edit",
        """{"sale_id":2,"sale_date":"2025-01-01 10:01:00","customer_id":2,""" +
          """"product_id":102,"quantity":9,"price":3.0,"total_price":27.0,""" +
          """"payment_method":"PayPal"}""", 0L),
      ("transactions_remove", """{"sale_id":3}""", 1L),
      ("transactions_sale", sale("2025-01-01 11:00:00", 4, 104, 1, 9.0), 2L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b2, store)
    val s2 = store.read(spark, "sales", Ingest.saleSchema)
      .select("sale_id", "quantity", "payment_method")
      .as[(Long, Int, String)].collect().toSet
    assert(s2 == Set((1L, 2, "Cash"), (2L, 9, "PayPal"), (4L, 1, "Cash")))

    // products: add then edit-on-missing (no-op) then remove
    val b3 = Seq(
      ("products_add",
        """{"product_id":11,"product_name":"Milk","product_description":"d",""" +
          """"product_category":"Daily","product_price":2.0,"stock_level":10}""", 0L),
      ("products_edit",
        """{"product_id":99,"product_name":"Ghost","product_description":"d",""" +
          """"product_category":"Daily","product_price":1.0,"stock_level":1}""", 1L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b3, store)
    val p1 = store.read(spark, "products", Ingest.productSchema)
      .select("product_id", "product_name").as[(Int, String)].collect().toSet
    assert(p1 == Set(11 -> "Milk"), "edit on a missing product key must be a no-op")
  }

  private def sale(date: String, cust: Int, prod: Int, qty: Int, price: Double) =
    s"""{"sale_date":"$date","customer_id":$cust,"product_id":$prod,""" +
      s""""quantity":$qty,"price":$price,"total_price":${qty * price},""" +
      s""""payment_method":"Cash"}"""

  /** (relative path, size, md5) of every data file under a dir tree. */
  private def fileSignatures(root: java.nio.file.Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val md = java.security.MessageDigest.getInstance("MD5")
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        root.relativize(p).toString ->
          (bytes.length.toLong, md.digest(bytes).map("%02x".format(_)).mkString)
      }.toMap
    finally walk.close()
  }

  test("partition-scoped ingest: untouched day partitions are carried by " +
    "reference — files byte-identical, write volume O(|batch|)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-partscope")
    val store = new TableStore(s"$dir/store")

    // batch 1: 40 sales across two days
    val b1 = (0 until 40).map { i =>
      val day = if (i % 2 == 0) "2025-01-01" else "2025-01-02"
      ("transactions_sale", sale(s"$day 10:00:0${i % 10}", i, 100 + i, 1, 2.0), i.toLong)
    }.toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b1, store)
    assert(store.currentVersion("sales").contains(1L))
    val v1 = java.nio.file.Paths.get(s"$dir/store/sales/v=1")
    val before = fileSignatures(v1)
    assert(before.keys.exists(_.startsWith("sale_day=2025-01-01")) &&
      before.keys.exists(_.startsWith("sale_day=2025-01-02")))

    // batch 2 touches ONLY 2025-01-02 (one new sale + one edit there)
    val b2 = Seq(
      ("transactions_sale", sale("2025-01-02 12:00:00", 99, 199, 3, 4.0), 0L),
      ("transactions_edit",
        """{"sale_id":2,"sale_date":"2025-01-02 10:00:01","customer_id":1,""" +
          """"product_id":101,"quantity":7,"price":2.0,"total_price":14.0,""" +
          """"payment_method":"Card"}""", 1L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b2, store)

    // v=1 files (incl. the untouched 2025-01-01 partition) are untouched
    assert(fileSignatures(v1) == before,
      "no file under the previous version may be rewritten")
    // the new version physically contains ONLY the touched partition
    val v2 = java.nio.file.Paths.get(s"$dir/store/sales/v=2")
    val written = fileSignatures(v2)
    assert(written.nonEmpty && written.keys.forall(_.startsWith("sale_day=2025-01-02")),
      s"batch 2 must write only sale_day=2025-01-02, got: ${written.keys}")
    // O(|batch|): day-01 bytes were NOT rewritten into v=2
    val day1Bytes = before.collect {
      case (p, (sz, _)) if p.startsWith("sale_day=2025-01-01") => sz
    }.sum
    assert(day1Bytes > 0 && written.values.map(_._1).sum < before.values.map(_._1).sum + day1Bytes)

    // and the snapshot still reads correctly across both versions
    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
    assert(got.count() == 41)
    assert(got.filter(col("sale_id") === 2).select("quantity", "payment_method")
      .as[(Int, String)].head() == ((7, "Card")))
    // day-01 rows come from v=1 by reference
    assert(got.filter(col("sale_day") === "2025-01-01").count() == 20)
  }

  test("partition-scoped ingest: an edit moving a product across categories " +
    "rewrites exactly the two affected partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-catmove")
    val store = new TableStore(s"$dir/store")
    def prod(id: Int, name: String, cat: String) =
      s"""{"product_id":$id,"product_name":"$name","product_description":"d",""" +
        s""""product_category":"$cat","product_price":1.0,"stock_level":5}"""
    val b1 = Seq(
      ("products_add", prod(11, "Milk", "Daily"), 0L),
      ("products_add", prod(21, "Beef", "Meat"), 1L),
      ("products_add", prod(41, "Kale", "Vegetable & Fruit"), 2L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b1, store)
    val v1 = java.nio.file.Paths.get(s"$dir/store/products/v=1")
    val before = fileSignatures(v1)

    // move Beef: Meat → Daily; Vegetable & Fruit untouched
    val b2 = Seq(("products_edit", prod(21, "Beef", "Daily"), 0L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b2, store)
    assert(fileSignatures(v1) == before)
    val v2 = java.nio.file.Paths.get(s"$dir/store/products/v=2")
    val cats = fileSignatures(v2).keys.map(_.split('/').head).toSet
    assert(cats == Set("product_category=Daily"),
      s"only Daily is rewritten (Meat empties out of the snapshot): $cats")
    val got = store.read(spark, "products", Ingest.productSchema)
      .select("product_id", "product_category").as[(Int, String)].collect().toSet
    assert(got == Set(11 -> "Daily", 21 -> "Daily", 41 -> "Vegetable & Fruit"))
    // the emptied Meat partition is gone from the snapshot
    assert(store.read(spark, "products", Ingest.productSchema)
      .filter(col("product_category") === "Meat").isEmpty)
  }

  test("TableStore.compact consolidates a spread snapshot into one version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
    val store = new TableStore(s"$dir/store")
    // three incremental writes → live data spread over 3 versions
    for ((day, i) <- Seq("2025-01-01", "2025-01-02", "2025-01-03").zipWithIndex) {
      val b = Seq(("transactions_sale", sale(s"$day 09:00:00", i, 100 + i, 1, 2.0), 0L))
        .toDF("topic", "value", "seq")
      Ingest.applyMicroBatch(spark, b, store)
    }
    assert(store.liveVersionCount("sales") == 3)
    store.compact(spark, "sales", Ingest.saleStoreSchema, Seq(Ingest.saleDayCol))
    assert(store.liveVersionCount("sales") == 1)
    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
    assert(got.count() == 3 &&
      got.select("sale_day").distinct().count() == 3)
  }

  test("sale-id counter is snapshot meta: no id-column scan, and ids are " +
    "never reused after removing the max row (tracker semantics, " +
    "kafka_consumer.py:56-68)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-counter")
    val store = new TableStore(s"$dir/store")
    val b1 = Seq(
      ("transactions_sale", sale("2025-01-01 10:00:00", 1, 101, 1, 2.0), 0L),
      ("transactions_sale", sale("2025-01-01 10:01:00", 2, 102, 1, 3.0), 1L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b1, store)
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("2"))
    // remove the max-id sale, then insert: a table-scan counter would
    // hand out id 2 again; the meta counter must advance to 3
    val b2 = Seq(("transactions_remove", """{"sale_id":2}""", 0L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b2, store)
    val b3 = Seq(
      ("transactions_sale", sale("2025-01-01 11:00:00", 3, 103, 1, 4.0), 0L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b3, store)
    val ids = store.read(spark, "sales", Ingest.saleStoreSchema)
      .select("sale_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 3L), s"id 2 must not be reused: $ids")
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("3"))
  }

  test("sale-id counter bootstrap: a pre-counter store falls back to the " +
    "id-column scan, then starts tracking meta") {
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy")
    val store = new TableStore(s"$dir/store")
    // legacy snapshot written without meta
    val legacy = Seq(
      (7L, "2025-01-01 09:00:00", 1, 101, 1, 2.0, 2.0, "Cash", "2025-01-01"))
      .toDF((Ingest.saleSchema.fieldNames :+ Ingest.saleDayCol): _*)
    store.overwrite("sales", legacy, partitionBy = Seq(Ingest.saleDayCol))
    assert(store.readMeta("sales").isEmpty)
    val b = Seq(
      ("transactions_sale", sale("2025-01-01 10:00:00", 2, 102, 1, 3.0), 0L))
      .toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b, store)
    val ids = store.read(spark, "sales", Ingest.saleStoreSchema)
      .select("sale_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(7L, 8L), "fallback scan must seed the counter at 7")
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("8"))
  }

  test("30 micro-batches: read fan-out stays bounded by compaction, " +
    "state stays correct, write volume stays O(|batch|)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manybatch")
    val store = new TableStore(s"$dir/store")
    // 30 single-sale batches, each to its own day → every batch spreads
    // live data over one more version until compaction consolidates
    (1 to 30).foreach { i =>
      val day = f"2025-02-$i%02d"
      val b = Seq(
        ("transactions_sale", sale(s"$day 09:00:00", i, 100 + i, 1, 2.0), 0L))
        .toDF("topic", "value", "seq")
      Ingest.applyMicroBatch(spark, b, store)
      assert(store.liveVersionCount("sales") <= Ingest.maxLiveVersions + 1,
        s"fan-out must stay bounded at batch $i")
    }
    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
    assert(got.count() == 30)
    assert(got.select("sale_id").as[Long].collect().sorted.toSeq ==
      (1L to 30L), "ids dense across compactions")
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("30"),
      "counter must survive compaction")
    assert(got.select(Ingest.saleDayCol).distinct().count() == 30)
  }

  test("readWhere: a day-range scan opens only matching partition paths " +
    "(producer range view, kafka_producer.py:269-277)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-range")
    val store = new TableStore(s"$dir/store")
    val days = Seq("2025-03-01", "2025-03-02", "2025-03-03", "2025-03-04")
    val b = days.zipWithIndex.map { case (day, i) =>
      ("transactions_sale", sale(s"$day 09:00:00", i, 100 + i, 1, 2.0), i.toLong)
    }.toDF("topic", "value", "seq")
    Ingest.applyMicroBatch(spark, b, store)
    assert(store.partitionValues("sales") == days)
    val ranged = store.readWhere(spark, "sales", Ingest.saleStoreSchema,
      d => d >= "2025-03-02" && d <= "2025-03-03")
    assert(ranged.select(Ingest.saleDayCol).distinct()
      .as[String].collect().sorted.toSeq == Seq("2025-03-02", "2025-03-03"))
    // path-level pruning: out-of-range partitions are never even listed
    val files = ranged.inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("sale_day=2025-03-02") || f.contains("sale_day=2025-03-03")),
      s"only in-range partition files may be planned: ${files.toSeq}")
  }

  test("an unpartitioned sales store (no sale_day column) is refused: " +
    "the batch throws and the store keeps its version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-unpartitioned")
    val store = new TableStore(s"$dir/store")
    // a plain overwrite with saleSchema columns only: no manifest, no day
    val rows = Seq(
      (5L, "2025-01-01 09:00:00", 1, 101, 1, 2.0, 2.0, "Cash"),
      (6L, "2025-01-02 09:00:00", 2, 102, 1, 3.0, 3.0, "Card"))
      .toDF(Ingest.saleSchema.fieldNames: _*)
    store.overwrite("sales", rows)
    val before = store.currentVersion("sales")
    val b = Seq(
      ("transactions_sale", sale("2025-01-02 10:00:00", 3, 103, 1, 4.0), 0L))
      .toDF("topic", "value", "seq")
    val e = intercept[Exception](Ingest.applyMicroBatch(spark, b, store))
    assert(e.getMessage.contains("exists unpartitioned"), e.getMessage)
    assert(store.currentVersion("sales") == before)
    assert(store.read(spark, "sales", Ingest.saleSchema)
      .select("sale_id").as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }

  test("TableStore retirement grace: a reader planned before one overwrite " +
    "still collects; only the second overwrite retires its files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-grace").toString
    val store = new TableStore(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.IntegerType)))
    store.overwrite("t", Seq(1, 2).toDF("id"))
    val inFlight = store.read(spark, "t", schema) // plans against v=1
    store.overwrite("t", Seq(3).toDF("id"))       // current → v=2, v=1 kept
    assert(inFlight.as[Int].collect().sorted.toSeq == Seq(1, 2),
      "an in-flight reader one version behind must still resolve")
    store.overwrite("t", Seq(4).toDF("id"))       // current → v=3, v=1 retired
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "t", "v=1")),
      "unreferenced versions two flips back are retired")
    assert(store.read(spark, "t", schema).as[Int].collect().toSeq == Seq(4))
  }

  test("RocksDB state store: first-seen dedup state survives a checkpointed restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-rocks").toString
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StreamDedup.useRocksDBStateStore(spark)
    try {
      val ms = MemoryStream[(String, Int)]
      val emitted = collection.mutable.ArrayBuffer.empty[(String, Int)]
      def start() = StreamDedup.firstSeen[String, (String, Int)](
        spark, ms.toDS(), _._1)
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Int)], _: Long) =>
          val rows = b.collect()
          emitted.synchronized { emitted ++= rows }
          ()
        }
        .start()

      val q1 = start()
      ms.addData(("a", 1), ("b", 2))
      q1.processAllAvailable()
      val p1 = q1.lastProgress.stateOperators.apply(0)
      assert(p1.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"state must run on the RocksDB provider: ${p1.customMetrics.keySet}")
      q1.stop()

      // restart from the SAME checkpoint: "a" must still be known
      ms.addData(("a", 3), ("c", 4))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val got = emitted.synchronized(emitted.toSet)
      assert(got == Set("a" -> 1, "b" -> 2, "c" -> 4),
        s"duplicate of 'a' after restart must be suppressed by restored state: $got")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("firstSeenExpiring: keys re-emit after their event-time TTL passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val ms = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = StreamDedup.firstSeenExpiring[String, (String, java.sql.Timestamp)](
      spark, ms.toDS().toDF("k", "ts").as[(String, java.sql.Timestamp)],
      _._1, _._2, "ts", "0 seconds", java.time.Duration.ofHours(1))
    val q = deduped.writeStream.format("memory").queryName("fse")
      .outputMode("append").start()
    try {
      ms.addData(("a", ts("2025-01-01 10:00:00")))
      q.processAllAvailable() // a expires at 11:00
      ms.addData(("a", ts("2025-01-01 10:30:00"))) // dup within horizon
      q.processAllAvailable() // sighting slides a's expiry to 11:30
      ms.addData(("x", ts("2025-01-01 13:00:00")))
      q.processAllAvailable() // watermark → 13:00, past a's 11:30 expiry
      ms.addData(("y", ts("2025-01-01 13:05:00")))
      q.processAllAvailable() // a silent this batch → its timeout fires
      ms.addData(("a", ts("2025-01-01 13:10:00"))) // beyond TTL → re-emits
      q.processAllAvailable()
      val got = spark.table("fse").as[(String, java.sql.Timestamp)].collect().toSeq
      assert(got.count(_._1 == "a") == 2,
        s"'a' emits once per horizon: first sighting + post-expiry re-sighting: $got")
      assert(got.count(_._1 == "x") == 1 && got.count(_._1 == "y") == 1)
    } finally q.stop()
  }

  test("applyMicroBatch costs a small fixed number of Spark jobs: append, " +
    "edit/remove over a 3-version snapshot, products+customers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs")
    val store = new TableStore(s"$dir/store")
    def sales(day: String, from: Int) = (0 until 20).map { i =>
      ("transactions_sale", sale(f"$day 10:00:$i%02d", from + i, 100 + i, 1, 2.0),
        i.toLong)
    }.toDF("topic", "value", "seq")
    // one batch per day: the snapshot spans three version dirs
    Seq("2025-04-01", "2025-04-02", "2025-04-03").zipWithIndex.foreach {
      case (day, d) => Ingest.applyMicroBatch(spark, sales(day, 20 * d), store)
    }
    assert(store.liveVersionCount("sales") == 3)

    val append = jobsOf(Ingest.applyMicroBatch(spark, sales("2025-04-04", 60), store))
    // sale ids 1..80: edit one sale and remove another in each of the
    // three older days, plus an edit of a key that never existed
    def edit(id: Long, day: String) =
      ("transactions_edit",
        s"""{"sale_id":$id,"sale_date":"$day 11:00:00","customer_id":7,""" +
          """"product_id":107,"quantity":9,"price":2.0,"total_price":18.0,""" +
          """"payment_method":"Card"}""")
    val waveEvents = Seq(
      edit(1L, "2025-04-01"), ("transactions_remove", """{"sale_id":2}"""),
      edit(21L, "2025-04-02"), ("transactions_remove", """{"sale_id":22}"""),
      edit(41L, "2025-04-03"), ("transactions_remove", """{"sale_id":42}"""),
      edit(999L, "2025-04-03"))
    val wave = jobsOf(Ingest.applyMicroBatch(spark,
      waveEvents.zipWithIndex.map { case ((t, v), i) => (t, v, i.toLong) }
        .toDF("topic", "value", "seq"), store))
    val dims = jobsOf(Ingest.applyMicroBatch(spark, Seq(
      ("products_add",
        """{"product_id":11,"product_name":"Milk","product_description":"d",""" +
          """"product_category":"Daily","product_price":2.0,"stock_level":10}""", 0L),
      ("customers_add",
        """{"customer_id":7,"customer_name":"Ann","customer_location":"BKK"}""", 1L))
      .toDF("topic", "value", "seq"), store))
    info(s"jobs per batch: append ${append.size}, wave ${wave.size}, " +
      s"products+customers ${dims.size}")

    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
      .select("sale_id", "quantity").as[(Long, Int)].collect().toMap
    assert(got.size == 77 && Seq(1L, 21L, 41L).forall(got(_) == 9) &&
      !Seq(2L, 22L, 42L, 999L).exists(got.contains))
    assert(store.read(spark, "products", Ingest.productSchema).count() == 1)
    assert(store.read(spark, "customers", Ingest.customerSchema).count() == 1)
    // census 1 + write 1: the ids are numbered inside the write's task
    // and an insert-only batch needs no window exchange
    assert(append.size <= 2, s"append batch launched: $append")
    // census 1 + key lookup 2 (broadcast keys, one narrow scan) +
    // apply 2; no id assignment
    assert(wave.size <= 6, s"edit/remove batch launched: $wave")
    // census 1 + one apply (shuffle, write) per entity
    assert(dims.size <= 6, s"products+customers batch launched: $dims")
  }

  test("TableStore partitioned snapshot over several versions reads as ONE " +
    "scan: data column v, escaped, '&' and null partitions, pruning, time travel") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft-onescan").toString
    val store = new TableStore(dir, keepVersions = 5)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("cat", StringType)))
    type R = (Long, Long, String)
    def rows(df: org.apache.spark.sql.DataFrame): Set[R] =
      df.as[(Long, Long, String)].collect().toSet
    def frame(rs: (Long, Long, String)*) = rs.toDF("id", "v", "cat")
    // v=1 writes four partitions; v=2, v=3, v=4 each rewrite one, so
    // the snapshot spans all four version dirs
    val v1 = Set[R]((1L, 100L, "Daily"), (2L, 200L, "Vegetable & Fruit"),
      (3L, 300L, null), (4L, 400L, "a/b"))
    store.overwrite("t", frame(v1.toSeq: _*), partitionBy = Seq("cat"))
    store.overwritePartitions("t", frame((5L, 500L, "Daily")), "cat", Seq("Daily"))
    val v2 = v1 - ((1L, 100L, "Daily")) + ((5L, 500L, "Daily"))
    store.overwritePartitions("t",
      frame((6L, 600L, "Vegetable & Fruit"), (7L, 700L, "Vegetable & Fruit")),
      "cat", Seq("Vegetable & Fruit"))
    val v3 = v2 - ((2L, 200L, "Vegetable & Fruit")) +
      ((6L, 600L, "Vegetable & Fruit")) + ((7L, 700L, "Vegetable & Fruit"))
    store.overwritePartitions("t", frame((8L, 800L, null)), "cat", Seq(null))
    val v4 = v3 - ((3L, 300L, null)) + ((8L, 800L, null))
    assert(store.liveVersionCount("t") == 4)

    val full = store.read(spark, "t", schema)
    assert(rows(full) == v4, "data column v must hold data, not a version")
    assert(rows(store.read(spark, "t", schema,
      Some(Seq("Vegetable & Fruit", null, "a/b")))) ==
      v4.filter(r => r._3 != "Daily"))
    assert(rows(full.filter(col("cat") === "a/b")) == Set((4L, 400L, "a/b")))
    assert(rows(full.filter(col("cat").isNull)) == Set((8L, 800L, null)))
    assert(rows(store.readAt(spark, "t", schema, 1L)) == v1)
    assert(rows(store.readAt(spark, "t", schema, 2L)) == v2)
    assert(rows(store.readAt(spark, "t", schema, 3L,
      Some(Seq("Vegetable & Fruit")))) ==
      v3.filter(_._3 == "Vegetable & Fruit"))
    // the four version dirs are ONE file relation, not a union of four
    val scans = full.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one scan per snapshot:\n${full.queryExecution.executedPlan}")
  }

  test("census reads each batch partition once: one task per partition") {
    val raw = (daySales("2025-05-01", 0, 12) ++ Seq(
      ("products_add",
        """{"product_id":11,"product_name":"Milk","product_description":"d",""" +
          """"product_category":"Daily","product_price":2.0,"stock_level":10}"""),
      ("customers_add",
        """{"customer_id":7,"customer_name":"Ann","customer_location":"BKK"}"""),
      ("customers_remove", """{"customer_id":7}"""),
      ("transactions_sale", "not json")))
      .zipWithIndex.map { case ((t, v), i) => (t, v, i.toLong) }
    val batch = spark.sparkContext.parallelize(raw, 3).toDF("topic", "value", "seq")
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
    }
    org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val shape =
      try {
        val shape = Ingest.census(batch)
        org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)
        shape
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.toArray.toSeq == Seq(3),
      s"the census is one job of one task per batch partition: $tasks")
    assert(shape("sales") == Ingest.EntityCensus(Map("sale" -> 12L), Seq("2025-05-01")))
    assert(shape("products") == Ingest.EntityCensus(Map("add" -> 1L), Seq("Daily")))
    assert(shape("customers").kinds == Map("add" -> 1L, "remove" -> 1L))
    assert(shape("customers").eventParts == Seq(null))
  }

  /** `n` sale events on one day, customers `from` onwards. */
  private def daySales(day: String, from: Int, n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      ("transactions_sale", sale(f"$day 10:${i / 60}%02d:${i % 60}%02d", from + i, 100 + i % 7, 1, 2.0))
    }

  test("sale ids: one-task numbering gives the range path's ids, on a " +
    "2,000-partition input, and launches no job of its own") {
    val n = 3000
    val batch = spark.range(n)
      .select((col("id") * 7919 % n).as("seq"), lit("x").as("payload"))
      .repartition(2000)
    val oneTask = jobsOf {
      Ingest.numberSaleIdsInOneTask(batch, 41L, Seq("seq"))
    }
    assert(oneTask.isEmpty, s"numbering launched: $oneTask")
    val one = Ingest.numberSaleIdsInOneTask(batch, 41L, Seq("seq"))
      .select("seq", "sale_id").as[(Long, Long)].collect()
    assert(one.map(_._2).sorted.toSeq == (42L to 41L + n), "dense and unique")
    assert(one.sortBy(_._1).map(_._2).toSeq == one.map(_._2).sorted.toSeq,
      "ids follow seq order")
    // the distributed range-partition row number over 2,000 shuffle
    // partitions ranks the same rows the same way
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2000")
    val ranged =
      try {
        val (ranked, release) =
          graft.ops.Stats.globalRowNumber(batch, Seq(col("seq")), "rn")
        try ranked.select(col("seq"), col("rn") + 41L).as[(Long, Long)].collect()
        finally release()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(one.toMap == ranged.toMap)
  }

  test("five appends into one existing day: ids follow arrival order, rows " +
    "land on their days, and the day keeps at most two files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-appends")
    val store = new TableStore(s"$dir/store")
    def batch(b: Int) = (daySales("2025-06-01", 100 * b, 40) ++
      daySales(f"2025-06-${2 + b}%02d", 100 * b + 50, 5))
      .zipWithIndex.map { case ((t, v), i) => (t, v, i.toLong) }
      .toDF("topic", "value", "seq").repartition(3)
    // (sale_id, sale_date, customer_id, product_id, sale_day) of batch b:
    // its 45 sales take the next 45 ids in seq order
    def expected(b: Int) = (0 until 45).map { i =>
      val (day, cust, j) =
        if (i < 40) ("2025-06-01", 100 * b + i, i)
        else (f"2025-06-${2 + b}%02d", 100 * b + 50 + i - 40, i - 40)
      (45L * b + i + 1, f"$day 10:00:$j%02d", cust, 100 + j % 7, day)
    }
    def rows = store.read(spark, "sales", Ingest.saleStoreSchema)
      .select("sale_id", "sale_date", "customer_id", "product_id", Ingest.saleDayCol)
      .as[(Long, String, Int, Int, String)].collect().sortBy(_._1).toSeq
    (0 until 5).foreach { b =>
      Ingest.applyMicroBatch(spark, batch(b), store)
      val day = store.read(spark, "sales", Ingest.saleStoreSchema).inputFiles
        .filter(_.contains("/sale_day=2025-06-01/"))
      assert(day.length <= 2, s"append $b left ${day.length} files: ${day.toSeq}")
      assert(rows == (0 to b).flatMap(expected), s"append $b diverged")
    }
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("225"))
  }

  test("a batch mixing inserts, edits and removes numbers its inserts in " +
    "one task and replays every event in seq order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mixed")
    val store = new TableStore(s"$dir/store")
    val b1 = daySales("2025-07-01", 0, 10).zipWithIndex
      .map { case ((t, v), i) => (t, v, i.toLong) }.toDF("topic", "value", "seq")
    val b2 = (Seq(
      ("transactions_edit",
        """{"sale_id":3,"sale_date":"2025-07-02 11:00:00","customer_id":7,""" +
          """"product_id":107,"quantity":9,"price":2.0,"total_price":18.0,""" +
          """"payment_method":"Card"}"""),
      ("transactions_remove", """{"sale_id":4}""")) ++
      daySales("2025-07-01", 20, 6) ++
      Seq(("transactions_remove", """{"sale_id":12}""")))
      .zipWithIndex.map { case ((t, v), i) => (t, v, i.toLong) }
      .toDF("topic", "value", "seq")
    Seq(b1, b2).foreach(Ingest.applyMicroBatch(spark, _, store))
    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
      .select("sale_id", "customer_id", "quantity", Ingest.saleDayCol)
      .as[(Long, Int, Int, String)].collect().toSet
    // b1's sales are ids 1..10 (customers 0..9); b2's six inserts are
    // ids 11..16 (customers 20..25), and sale 12 is removed by a later
    // event of its own batch; the edit moves sale 3 a day on
    val kept = ((1L to 10L) ++ (11L to 16L)).filterNot(Set(3L, 4L, 12L))
    assert(got == kept.map { id =>
      (id, if (id <= 10) id.toInt - 1 else id.toInt + 9, 1, "2025-07-01")
    }.toSet + ((3L, 7, 9, "2025-07-02")))
  }

  test("an insert-only batch of 200,001 sales, above any one-task bound, is " +
    "applied in two jobs with ids dense in seq order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bigappend")
    val store = new TableStore(s"$dir/store")
    val n = 200001L
    // a permutation of 0 until n, so arrival order is not row order
    val seq = col("id") * 7919 % n
    val batch = spark.range(n).select(
      lit("transactions_sale").as("topic"),
      to_json(struct(
        concat(lit("2025-08-0"), (seq % 3 + 1).cast("string"), lit(" 10:00:00"))
          .as("sale_date"),
        seq.cast("int").as("customer_id"), lit(101).as("product_id"),
        lit(1).as("quantity"), lit(2.0).as("price"), lit(2.0).as("total_price"),
        lit("Cash").as("payment_method"))).as("value"),
      seq.as("seq"))
    val jobs = jobsOf(Ingest.applyMicroBatch(spark, batch, store))
    assert(jobs.size <= 2, s"append batch launched: $jobs")
    // customer_id carries the event's seq, a permutation of 0 until n:
    // the ids are 1..n in seq order iff every sale_id is its seq + 1
    val got = store.read(spark, "sales", Ingest.saleStoreSchema)
    assert(got.count() == n)
    assert(got.filter(col("sale_id") =!= col("customer_id") + 1).isEmpty)
    assert(store.readMeta("sales").get(Ingest.maxSaleIdKey).contains("200001"))
  }
}
