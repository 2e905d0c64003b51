package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.sql.DriverManager

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.jobs.{DailyLoadJob, HourlySyncJob}
import graft.sinks.DeleteInsertUpsertDialect
import graft.streaming.{Ingest, TableStore}

/** The reference's product path, end to end: wire-format POS events
  * drained by `Ingest.startIngest` from a file source (one file per
  * trigger, `AvailableNow`) into a `TableStore`, `DailyLoadJob` into an
  * in-memory Derby warehouse, a scattered edit/remove wave drained the
  * same way, then `HourlySyncJob.runAll`.
  *
  * Each cycle starts from an empty store and warehouse and ends with
  * the correctness gate: warehouse = store snapshot = the state a
  * sequential replay of the event log gives.
  */
object Pipeline {

  /** Sale days (one file and one trigger each) and sales per day. */
  val Days = 2
  val SalesPerDay = 1000
  /** Sales of the day before, sent with the product and customer adds
    * so the untimed first drain also warms the sale path.
    */
  val WarmSales = 50

  final case class Sale(id: Long, date: String, customer: Int, product: Int,
      quantity: Int, price: Double, total: Double, payment: String) {
    def json(withId: Boolean): String = {
      val id_ = if (withId) s""""sale_id":$id,""" else ""
      s"""{$id_"sale_date":"$date","customer_id":$customer,""" +
        s""""product_id":$product,"quantity":$quantity,"price":$price,""" +
        s""""total_price":$total,"payment_method":"$payment"}"""
    }
    def csvPath: String = s"sales_${date.take(10).replace("-", "")}.csv"
  }
  final case class Product(id: Int, name: String, description: String,
      category: String, price: Double, stock: Int)
  final case class Customer(id: Int, name: String, location: String)
  /** What a sale event is made from: a lineitem's customer (through its
    * order), part and quantity, and the part's price.
    */
  final case class Line(customer: Int, part: Long, quantity: Int, price: Double)

  /** The rows the events are made from. */
  final case class Base(products: Seq[Product], customers: Seq[Customer],
      lines: Seq[Line])

  /** One cycle's inputs: the wire-event files, in drain order, and the
    * state a sequential replay of them gives.
    */
  final case class Events(
      dimsFile: String, dayFiles: Seq[String], waveFile: String,
      saleEvents: Long, loaded: Map[Long, Sale], finalSales: Map[Long, Sale],
      products: Map[Int, Product], customers: Map[Int, Customer])

  private val categories = Seq("Daily", "Meat", "Seafood",
    "Vegetable & Fruit", "Snack", "Beverage", "Alcohol")
  private val payments = Seq("Cash", "Credit Card", "Debit Card", "PayPal")

  private def h(seed: Long, salt: String, key: Long): Int =
    MurmurHash3.productHash((seed, salt, key)) & Int.MaxValue

  private def wire(topic: String, value: String, seq: Long): String =
    s"""{"topic":"$topic","value":${Json.str(value)},"seq":$seq}"""

  /** Product ids carry their category code as the leading digit. */
  private def productId(part: Long): Int = (1 + part % 7).toInt * 100000 + part.toInt

  /** Source rows drawn like an sf0.01 instance's part (2,000 rows),
    * customer (1,500) and lineitem×orders: uniform part and customer
    * keys, quantities 1-50, the part's retail price.
    */
  def base(seed: Long, sales: Int): Base = {
    val types = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    val colors = Seq("red", "blue", "green", "black", "white", "small",
      "large", "steel")
    val nouns = Seq("widget", "bolt", "ring", "gear", "valve", "spring",
      "panel", "screw")
    def retail(part: Long): Double = 900.0 + (part % 1000) / 10.0
    val products = (0L until 2000L).map { key =>
      Product(productId(key),
        s"${colors(h(seed, "p_color", key) % 8)} ${nouns(h(seed, "p_noun", key) % 8)}",
        s"${types(h(seed, "p_type", key) % 6)} Brand#${1 + h(seed, "p_brand", key) % 25}",
        categories((key % 7).toInt), retail(key), 1 + h(seed, "p_size", key) % 50)
    }
    val customers = (0 until 1500).map(c => Customer(c,
      f"Customer#$c%09d", s"NATION_${h(seed, "c_nation", c) % 25}"))
    val lines = (0L until sales.toLong).map { k =>
      val part = (h(seed, "l_part", k) % 2000).toLong
      Line(h(seed, "o_cust", k) % 1500, part, 1 + h(seed, "l_qty", k) % 50,
        retail(part))
    }
    Base(products, customers, lines)
  }

  /** Wire events: product and customer adds first, with [[WarmSales]]
    * sales of the previous day and a few edits and removes of them (the
    * untimed warm-up drain); then one file per sale day ([[Days]] of
    * [[SalesPerDay]]); then the edit/remove wave over every day. The
    * edited and removed keys are picked by a hash of seed and key.
    */
  def events(base: Base, seed: Long, dir: Path): Events = {
    val products = base.products
    val customers = base.customers
    // sale ids are assigned at ingest in arrival order, so the k-th
    // sale event gets id k
    val sales = base.lines.zipWithIndex.map { case (l, k) =>
      val id = k + 1L
      val day = java.time.LocalDate.of(2025, 2, 1)
        .plusDays(Math.floorDiv(k - WarmSales, SalesPerDay))
      val sec = h(seed, "time", id) % 86400
      Sale(id, f"$day ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d",
        l.customer, productId(l.part), l.quantity, l.price,
        cents(l.quantity * l.price), payments(h(seed, "pay", id) % payments.size))
    }

    var seq = 0L
    def next(): Long = { seq += 1; seq }
    Files.createDirectories(dir)
    var mtime = 1700000000000L
    def write(name: String, lines: Seq[String]): String = {
      val p = dir.resolve(name)
      Files.writeString(p, lines.mkString("", "\n", "\n"))
      // the file source drains oldest first
      mtime += 1000
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      p.toString
    }
    // removes ~4% and edits ~8% of the live sales among `ids`, picked by
    // a hash of seed and key, replaying each event on `state`
    val state = mutable.LinkedHashMap(sales.map(s => s.id -> s): _*)
    def churn(ids: Seq[Long], salt: String): Seq[String] =
      ids.flatMap(state.get).flatMap { s =>
        val r = h(seed, salt, s.id) % 100
        if (r < 4) {
          state -= s.id
          Some(wire("transactions_remove",
            s"""{"sale_id":${s.id},"csv_path":"${s.csvPath}"}""", next()))
        } else if (r < 12) {
          val q = 1 + (s.quantity + r) % 50
          val e = s.copy(quantity = q, total = cents(q * s.price))
          state(s.id) = e
          Some(wire("transactions_edit", e.json(true)
            .dropRight(1) + s""","csv_path":"${s.csvPath}"}""", next()))
        } else None
      }
    val warm = sales.take(WarmSales)
    val dimsFile = write("000-dims.json",
      products.map(p => wire("products_add",
        s"""{"product_id":${p.id},"product_name":${Json.str(p.name)},""" +
          s""""product_description":${Json.str(p.description)},""" +
          s""""product_category":${Json.str(p.category)},""" +
          s""""product_price":${p.price},"stock_level":${p.stock}}""",
        next())) ++
      customers.map(c => wire("customers_add",
        s"""{"customer_id":${c.id},"customer_name":${Json.str(c.name)},""" +
          s""""customer_location":${Json.str(c.location)}}""", next())) ++
      warm.map(s => wire("transactions_sale", s.json(false), next())) ++
      churn(warm.map(_.id), "warm"))
    val dayFiles = sales.drop(WarmSales).grouped(SalesPerDay).zipWithIndex.map { case (ds, d) =>
      write(f"${d + 1}%03d-sales.json",
        ds.map(s => wire("transactions_sale", s.json(false), next())))
    }.toSeq
    val loaded = state.toMap

    // the wave over every day, plus one edit of a key that never
    // existed (a no-op)
    val wave = mutable.ArrayBuffer(churn(sales.map(_.id), "wave"): _*)
    val ghost = sales.head.copy(id = sales.length + 1000L)
    wave += wire("transactions_edit", ghost.json(true), next())
    val waveFile = write("999-wave.json", wave.toSeq)
    Events(dimsFile, dayFiles, waveFile, (sales.length - WarmSales).toLong,
      loaded, state.toMap,
      products.map(p => p.id -> p).toMap, customers.map(c => c.id -> c).toMap)
  }

  private def cents(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val wireSchema = StructType(Seq(
    StructField("topic", StringType), StructField("value", StringType),
    StructField("seq", LongType)))

  /** Store that counts, on disk, what each commit wrote. */
  final class CountingStore(root: String) extends TableStore(root) {
    var versions = 0L
    var partitions = 0L
    var bytes = 0L
    private def onCommit(name: String): Unit = {
      versions += 1
      // each commit writes one new `v=<version>` directory
      currentVersion(name).map(v => Paths.get(root, name, s"v=$v")).foreach { v =>
        val ls = Files.list(v)
        try partitions += math.max(1L,
          ls.filter(p => p.getFileName.toString.contains("=")).count())
        finally ls.close()
        val walk = Files.walk(v)
        try walk.filter(Files.isRegularFile(_))
          .forEach(f => bytes += Files.size(f))
        finally walk.close()
      }
    }
    override def overwritePartitions(name: String, df: DataFrame,
        partCol: String, touched: Seq[String], sortBy: Seq[String],
        meta: Map[String, String]): Unit = {
      super.overwritePartitions(name, df, partCol, touched, sortBy, meta)
      onCommit(name)
    }
    override def overwrite(name: String, df: DataFrame, sortBy: Seq[String],
        partitionBy: Seq[String], meta: Map[String, String],
        expectVersion: Option[Option[Long]]): Unit = {
      super.overwrite(name, df, sortBy, partitionBy, meta, expectVersion)
      onCommit(name)
    }
  }

  /** One cycle's timed phases. */
  final case class Cycle(append: Timing, load: Timing, wave: Timing,
      sync: Timing, appendTriggerMs: Seq[Double],
      ok: Boolean, ops: Long, layers: Seq[(String, Double)]) {
    def phases: Seq[Timing] = Seq(append, load, wave, sync)
    def total: Double = phases.map(_.wall).sum
    def unstolen: Double = phases.map(_.unstolen).sum
  }

  def run(b: Bench): Result = {
    val spark = b.spark
    val ev = events(base(b.seed, WarmSales + Days * SalesPerDay), b.seed,
      Paths.get(b.work, "events"))
    b.log(f"events ready at ${b.sinceStart()}%.2f s")
    var attempted = 0L
    var failed = 0L
    // set-up ends where the first timed cycle's timed phases begin
    var setup = Timing(Double.NaN, 0)
    def attempt(dir: String, tr: Tracer, warmUp: Boolean = false): Option[Cycle] =
      try {
        val c = cycle(b, ev, dir, tr,
          () => if (!warmUp && setup.wall.isNaN) setup = b.setup())
        attempted += c.ops
        if (!c.ok) failed += c.ops
        b.log(f"cycle append ${c.append.wall}%.2f s, load ${c.load.wall}%.2f s, " +
          f"wave ${c.wave.wall}%.2f s, sync ${c.sync.wall}%.2f s, triggers " +
          c.appendTriggerMs.mkString(" ") + " ms")
        Some(c)
      } catch {
        case e: Exception =>
          b.report(s"cycle $dir", e)
          val ops = ev.dayFiles.size + 4L
          attempted += ops; failed += ops
          None
      }

    // one whole cycle, checked but untimed, is the warm-up: the first
    // cycle in a JVM runs its phases up to 1.3x slower than the next
    b.log("warm-up cycle")
    attempt(s"${b.work}/cycle0", new Tracer(spark, false), warmUp = true)

    val untraced = mutable.ArrayBuffer.empty[Cycle]
    val traced = mutable.ArrayBuffer.empty[(Cycle, Tracer)]
    val t0 = System.nanoTime()
    var cycles = 0
    // a traced run times one untraced cycle, then the traced one
    while (cycles == 0 || (b.trace && cycles < 2) ||
        (System.nanoTime() - t0) / 1e9 * (cycles + 1) / cycles <= b.seconds) {
      System.gc()
      val tracing = b.trace && cycles % 2 == 1
      val tracer = new Tracer(spark, tracing)
      cycles += 1
      val c = attempt(s"${b.work}/cycle$cycles", tracer)
      tracer.stop()
      c.foreach(c => if (tracing) traced += ((c, tracer)) else untraced += c)
    }
    val med = (f: Cycle => Double) => Stats.median(untraced.map(f).toSeq)
    val passS = med(_.unstolen)
    val raw = Seq("raw_setup_s" -> setup.wall, "raw_pass_s" -> med(_.total))
    val metrics =
      if (!b.trace) Seq("setup_s" -> setup.unstolen, "pass_s" -> passS)
      else traced.head._1.layers ++ Seq("trace.overhead_s" ->
        (Stats.median(traced.map(_._1.total).toSeq) - med(_.total))) ++ raw
    val summary = Seq("setup_s" -> setup.unstolen, "pass_s" -> passS,
      "ingest_eps" -> med(c => ev.saleEvents / c.append.unstolen),
      "microbatch_p50_ms" -> Stats.median(untraced.flatMap(c =>
        c.appendTriggerMs.map(_ * (1 - c.append.steal))).toSeq),
      "daily_load_s" -> med(_.load.unstolen),
      "freshness_s" -> med(c => c.wave.unstolen + c.sync.unstolen),
      "cycles" -> untraced.size.toDouble) ++ raw
    Result(attempted, failed, metrics, summary, traced.headOption.map(_._2))
  }

  private def cycle(b: Bench, ev: Events, dir: String, tr: Tracer,
      timedStart: () => Unit): Cycle = {
    val spark = b.spark
    val src = Paths.get(dir, "source")
    Files.createDirectories(src)
    val store =
      if (tr.enabled) new CountingStore(s"$dir/store") else new TableStore(s"$dir/store")
    val url = s"jdbc:derby:memory:${Paths.get(dir).getFileName};create=true"
    createWarehouse(url)
    def stage(files: Seq[String]): Long = files.map { f =>
      val to = src.resolve(Paths.get(f).getFileName)
      Files.copy(Paths.get(f), to)
      Files.setLastModifiedTime(to, Files.getLastModifiedTime(Paths.get(f)))
      Files.size(to)
    }.sum
    def drain(): Seq[StreamingQueryProgress] = {
      val raw = spark.readStream.schema(wireSchema)
        .option("maxFilesPerTrigger", 1).json(src.toString)
      val q = Ingest.startIngest(spark, raw, store, s"$dir/checkpoint")
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    def counts(): (Long, Long, Long) = store match {
      case c: CountingStore => (c.versions, c.partitions, c.bytes)
      case _ => (0L, 0L, 0L)
    }
    /** One timed phase in a span of its own; then, untimed, a wait
      * until the engine is idle.
      */
    def phase[A](name: String)(body: => A): (A, Timing) = {
      val r = Timing.of(tr.span(name)(body))
      b.quiesce()
      r
    }
    var ok = true
    // untimed: the product and customer adds, with the previous day's
    // sales and their edits, are drained before the timed phases
    stage(Seq(ev.dimsFile))
    val dimsProgress = drain()
    val appendBytes = stage(ev.dayFiles)
    timedStart()
    val cycleSpan = if (tr.enabled) Some(tr.open("cycle")) else None
    b.quiesce()
    val s0 = counts()
    val (appendProgress, append) = phase("append_drain")(drain())
    val s1 = counts()
    val appendLive = store.liveVersionCount("sales")

    val extract = store.read(spark, "sales", Ingest.saleSchema)
    val (loaded, load) =
      phase("daily_load")(DailyLoadJob.run(extract, url, "sales"))
    ok &= loaded

    val waveBytes = stage(Seq(ev.waveFile))
    val (waveProgress, wave) = phase("wave_drain")(drain())
    val s2 = counts()
    val waveLive = store.liveVersionCount("sales")
    val (_, sync) = phase("hourly_sync") {
      new HourlySyncJob(url, dialect = DeleteInsertUpsertDialect).runAll(
        spark,
        store.read(spark, "sales", Ingest.saleSchema),
        store.read(spark, "products", Ingest.productSchema),
        store.read(spark, "customers", Ingest.customerSchema))
    }
    cycleSpan.foreach(tr.close)

    val r0 = System.nanoTime()
    val snapshot = store.read(spark, "sales", Ingest.saleSchema)
    val nSnapshot = snapshot.count()
    val readS = (System.nanoTime() - r0) / 1e9
    ok &= check(spark, url, store, ev, nSnapshot)
    dropWarehouse(url)

    val layers = if (!tr.enabled) Nil else {
      val byName = tr.spans.map(s => s.name -> s).toMap
      val deleted = (ev.loaded.keySet -- ev.finalSales.keySet).size.toDouble
      val upserted =
        (ev.finalSales.size + ev.products.size + ev.customers.size).toDouble
      ingestLayers("append", appendProgress, byName("append_drain"), tr) ++
        ingestLayers("wave", waveProgress, byName("wave_drain"), tr) ++
        storeLayers("append", s0, s1, appendLive, appendBytes) ++
        storeLayers("wave", s1, s2, waveLive, waveBytes) ++
        Seq("store.read_s" -> readS,
          "jobs.daily_load_s" -> load.wall,
          "jobs.hourly_sync_s" -> sync.wall,
          "sinks.rows_upserted" -> upserted,
          "sinks.rows_deleted" -> deleted,
          "sinks.rows_per_s" -> (upserted + deleted) / sync.wall)
    }
    Cycle(append, load, wave, sync,
      appendProgress.map(_.durationMs.get("triggerExecution").toDouble),
      ok,
      dimsProgress.size + appendProgress.size + waveProgress.size + 2L, layers)
  }

  private def ingestLayers(phase: String, ps: Seq[StreamingQueryProgress],
      span: Span, tr: Tracer): Seq[(String, Double)] = {
    val epochToNano = System.nanoTime() - Bench.epochNs()
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano + epochToNano
      tr.record("trigger", span, startNs,
        startNs + p.durationMs.get("triggerExecution") * 1000000L)
    }
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / 1000
    val jobs = ps.map(p => Option(tr.batchJobs.get((span.id, p.batchId)))
      .map(_.get).getOrElse(0L)).sum
    Seq(
      s"ingest.$phase.triggers" -> ps.size.toDouble,
      s"ingest.$phase.trigger_s" -> dur("triggerExecution"),
      s"ingest.$phase.addBatch_s" -> dur("addBatch"),
      s"ingest.$phase.latestOffset_s" -> dur("latestOffset"),
      s"ingest.$phase.queryPlanning_s" -> dur("queryPlanning"),
      s"ingest.$phase.walCommit_s" -> dur("walCommit"),
      s"ingest.$phase.jobs_per_trigger" -> jobs.toDouble / math.max(ps.size, 1),
      s"ingest.$phase.shuffle_bytes" -> span.counts.shuffleWrite.get.toDouble)
  }

  private def storeLayers(phase: String, from: (Long, Long, Long),
      to: (Long, Long, Long), live: Int, eventBytes: Long): Seq[(String, Double)] =
    Seq(
      s"store.$phase.versions_committed" -> (to._1 - from._1).toDouble,
      s"store.$phase.live_versions" -> live.toDouble,
      s"store.$phase.partitions_rewritten" -> (to._2 - from._2).toDouble,
      s"store.$phase.bytes_written_per_event_byte" ->
        (to._3 - from._3).toDouble / eventBytes)

  private def createWarehouse(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE sales (sale_id BIGINT PRIMARY KEY, " +
        "sale_date VARCHAR(32), customer_id INT, product_id INT, " +
        "quantity INT, price DOUBLE, total_price DOUBLE, " +
        "payment_method VARCHAR(32))")
      st.execute("CREATE TABLE products (product_id INT PRIMARY KEY, " +
        "product_name VARCHAR(128), product_description VARCHAR(128), " +
        "product_category VARCHAR(32), product_price DOUBLE, stock_level INT)")
      st.execute("CREATE TABLE customers (customer_id INT PRIMARY KEY, " +
        "customer_name VARCHAR(64), customer_location VARCHAR(64), " +
        "sum_purchase DOUBLE, purchase_frequency BIGINT, " +
        "membership_level VARCHAR(16))")
      st.close()
    } finally c.close()
  }

  private def dropWarehouse(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a drop reports as an exception

  private def query(url: String, sql: String): Seq[Seq[Any]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally c.close()
  }

  /** The correctness gate for one cycle. */
  private def check(spark: SparkSession, url: String, store: TableStore,
      ev: Events, nSnapshot: Long): Boolean = {
    def saleRow(s: Sale): Seq[Any] = Seq(s.id, s.date, s.customer, s.product,
      s.quantity, s.price, s.total, s.payment)
    val model = ev.finalSales.values.map(saleRow).toSet
    val warehouse = query(url, "SELECT sale_id, sale_date, customer_id, " +
      "product_id, quantity, price, total_price, payment_method FROM sales")
      .map(r => Seq(r(0).asInstanceOf[Number].longValue, r(1),
        r(2).asInstanceOf[Number].intValue, r(3).asInstanceOf[Number].intValue,
        r(4).asInstanceOf[Number].intValue, r(5), r(6), r(7))).toSet
    val snapshot = store.read(spark, "sales", Ingest.saleSchema).collect()
      .map(r => r.toSeq).toSet
    val products = query(url, "SELECT product_id, product_name, " +
      "product_description, product_category, product_price, stock_level " +
      "FROM products").map(r => Product(r(0).asInstanceOf[Number].intValue,
        r(1).toString, r(2).toString, r(3).toString,
        r(4).asInstanceOf[Number].doubleValue, r(5).asInstanceOf[Number].intValue))
    val spend = ev.finalSales.values.groupMapReduce(_.customer)(s => (s.total, 1L)) {
      case ((a, n), (b, m)) => (a + b, n + m)
    }
    val customersOk = query(url, "SELECT customer_id, customer_name, " +
      "customer_location, sum_purchase, purchase_frequency, membership_level " +
      "FROM customers").map { r =>
        val id = r(0).asInstanceOf[Number].intValue
        val (sum, n) = spend.getOrElse(id, (0.0, 0L))
        val tier = if (sum < 100) "Bronze" else if (sum < 500) "Silver"
          else if (sum < 2000) "Gold" else "Platinum"
        ev.customers.get(id).contains(Customer(id, r(1).toString, r(2).toString)) &&
          math.abs(r(3).asInstanceOf[Number].doubleValue - sum) < 0.011 &&
          r(4).asInstanceOf[Number].longValue == n && r(5) == tier
      }
    val checks = Seq(
      "warehouse sales = replay" -> (warehouse == model),
      "store sales = replay" -> (snapshot == model && nSnapshot == model.size),
      "warehouse products = replay" -> (products.toSet == ev.products.values.toSet),
      "warehouse customers = replay" ->
        (customersOk.size == ev.customers.size && customersOk.forall(identity)))
    checks.filterNot(_._2).foreach { case (what, _) =>
      System.err.println(s"[perfbench] pos_pipeline check failed: $what")
    }
    checks.forall(_._2)
  }
}
