package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generator for the analytics queries: the
  * `orders`, `lineitem`, `documents` and `embeddings` tables, with the
  * schemas and value distributions of the engine's TPC-H-like test
  * data (FIXTURES.md §B).
  *
  * Every value is a pure function of (seed, column, row id) through
  * `xxhash64`, so the same seed gives identical content whatever the
  * partitioning, and no driver-side random state exists.
  *
  * `orders` sets the scale: 1,500 orders is the sf0.001 shape and
  * 150,000 the sf0.1 shape; lineitem has 4 rows per order, and
  * documents and embeddings one per 30 orders (embeddings capped at
  * 2,000).
  */
object Gen {

  /** The documents' 30-word vocabulary ("dup" marks a near-duplicate). */
  val Vocab: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part",
    "group", "big", "sort", "query", "fast", "the")

  final case class Scale(orders: Long) {
    val lineitem: Long = orders * 4
    val customer: Long = math.max(orders / 10, 10)
    val part: Long = math.max(orders * 2 / 15, 10)
    val supplier: Long = math.max(orders / 150, 5)
    val documents: Long = math.max(orders / 30, 50)
    val embeddings: Long = math.min(math.max(orders / 30, 50), 2000)
  }

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Scale): Unit =
    tables(spark, seed, scale).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  def tables(spark: SparkSession, seed: Long, sc: Scale): Seq[(String, DataFrame)] = {
    val g = new Draws(seed)
    import g._
    def ids(n: Long, parts: Int = 4): DataFrame = spark.range(0, n, 1, parts).toDF()

    val orders = ids(sc.orders).select(
      col("id").as("o_orderkey"),
      int("o_custkey", sc.customer).as("o_custkey"),
      pick("o_orderstatus", Seq("F", "O", "P")).as("o_orderstatus"),
      round(unif("o_totalprice") * 499000.0 + 1000.0, 2).as("o_totalprice"),
      day("1995-01-01", "o_orderdate", 2404).as("o_orderdate"),
      pick("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = ids(sc.lineitem).select(
      int("l_orderkey", sc.orders).as("l_orderkey"),
      int("l_partkey", sc.part).as("l_partkey"),
      int("l_suppkey", sc.supplier).as("l_suppkey"),
      (int("l_linenumber", 7) + 1).cast("int").as("l_linenumber"),
      (int("l_quantity", 50) + 1).cast("double").as("l_quantity"),
      round(unif("l_extendedprice") * 104100.0 + 900.0, 2)
        .as("l_extendedprice"),
      (int("l_discount", 11) / 100.0).as("l_discount"),
      (int("l_tax", 9) / 100.0).as("l_tax"),
      pick("l_returnflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_linestatus", Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", "l_shipdate", 2498).as("l_shipdate"))
    // one doc in twenty is a near-duplicate: an earlier document's
    // words plus a trailing "dup" token; text is a pure function of
    // its source id, so no join is needed to copy it
    val isDup = col("id") > 0 && int("doc_dup", 20) === 0
    val src = when(isDup, hashOf("doc_src", col("id")) % col("id"))
      .otherwise(col("id"))
    val nWords = lit(8) + pmod(hashOf("doc_len", src), lit(100L)).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      element_at(typedlit(Vocab),
        pmod(xxhash64(lit(seed), lit("doc_word"), src, i), lit(30L))
          .cast("int") + 1))
    val text = concat_ws(" ", words, when(isDup, lit("dup")))
    val documents = ids(sc.documents).select(
      col("id").as("doc_id"),
      text.as("text"),
      pickWeighted("lang", Seq("en" -> 44, "zh" -> 14, "es" -> 14,
        "de" -> 14, "fr" -> 14)).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit vectors: a weak per-label centroid plus uniform noise
    val label = int("label", 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), d =>
      centered(xxhash64(lit(seed), lit("centroid"), label, d)) * 0.35 +
        centered(xxhash64(lit(seed), lit("noise"), col("id"), d)))
    val embeddings = ids(sc.embeddings).select(
      col("id").as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))

    Seq("orders" -> orders, "lineitem" -> lineitem,
      "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Hash-derived draws for row `id`, each salted by the column name. */
  final class Draws(seed: Long) {
    def hashOf(salt: String, key: Column): Column =
      pmod(xxhash64(lit(seed), lit(salt), key), lit(Long.MaxValue))
    private def h(salt: String): Column = hashOf(salt, col("id"))
    /** Uniform in [0, 1). */
    def unif(salt: String): Column = (h(salt) % lit(1L << 40)) / (1L << 40).toDouble
    def centered(hash: Column): Column =
      pmod(hash, lit(1L << 40)) / (1L << 40).toDouble - 0.5
    /** Uniform integer in [0, n). */
    def int(salt: String, n: Long): Column = h(salt) % lit(n)
    def pick(salt: String, values: Seq[String]): Column =
      element_at(typedlit(values), (int(salt, values.size) + 1).cast("int"))
    def pickWeighted(salt: String, weights: Seq[(String, Int)]): Column = {
      val expanded = weights.flatMap { case (v, w) => Seq.fill(w)(v) }
      pick(salt, expanded)
    }
    def day(start: String, salt: String, days: Int): Column =
      date_add(to_date(lit(start)), int(salt, days).cast("int"))
        .cast("timestamp")
  }
}
