package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Scaling-sweep data synthesizer: replicate the driver testdata
  * FACT tables N× with key remapping, so the bench queries can be
  * timed at 10×/100× the certified scale factor and their measured
  * scaling exponents compared against the plans' claims (VERDICT r9
  * "Next round" #3 — /root/testdata ships sf0.001/0.01/0.1 only).
  *
  * The replication is SEMANTICS-PRESERVING for the operators under
  * test — naive row duplication would corrupt exactly the queries
  * the sweep most needs to measure:
  *  - entity keys shift by a per-replica stride (orders+lineitem
  *    share the o_orderkey stride so baskets/joins replicate as
  *    UNITS; events shift user_id so funnels/sessions scale in GROUP
  *    COUNT at constant per-group size — the realistic growth shape);
  *  - document text gets a per-replica marker token spliced in every
  *    three words (replica 0 verbatim), so a document is NOT an
  *    exact- or near-duplicate of its other-replica copies (every
  *    w≥2 shingle straddles a marker) — duplicate/LSH structure
  *    scales linearly instead of every doc becoming a 10-way dup
  *    cluster;
  *  - embeddings get a small per-replica deterministic element-wise
  *    perturbation (±0.025, hash-derived), so ANN/k-means geometry
  *    thickens instead of collapsing onto 10× coincident points.
  * Dimension tables (region/nation/customer/supplier/part) copy
  * verbatim: dims broadcast; scaling facts against fixed dims is the
  * 100 TB shape.
  *
  * Usage: runMain graft.tools.ScaleSynth <srcSfDir> <destDir> <factor>
  */
object ScaleSynth {

  private def replicate(df: DataFrame, factor: Int): DataFrame =
    df.withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))

  private def shifted(k: String, stride: Long): Column =
    col(k) + col("__r") * lit(stride)

  /** max(key)+1 — the per-replica key stride. */
  private def strideOf(df: DataFrame, k: String): Long =
    df.agg(max(col(k))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleSynth <srcSfDir> <destDir> <factor>")
    val Array(src, dest, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark: SparkSession = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(dest))

    def write(name: String, df: DataFrame): Unit =
      df.drop("__r").write.mode("overwrite")
        .parquet(s"$dest/$name.parquet")

    // dims: verbatim copies
    Seq("region", "nation", "customer", "supplier", "part").foreach { n =>
      write(n, Tables.load(spark, src, n))
    }

    // orders + lineitem: one shared o_orderkey stride so each
    // replicated order keeps its line items (baskets replicate as
    // units; join fan-outs scale linearly)
    val orders = Tables.orders(spark, src)
    val okStride = strideOf(orders, "o_orderkey")
    write("orders", replicate(orders, factor)
      .withColumn("o_orderkey", shifted("o_orderkey", okStride)))
    write("lineitem", replicate(Tables.lineitem(spark, src), factor)
      .withColumn("l_orderkey", shifted("l_orderkey", okStride)))

    // events: new users per replica (group-count growth), new event ids
    val events = Tables.events(spark, src)
    val evStride = strideOf(events, "event_id")
    val userStride = strideOf(events, "user_id")
    write("events", replicate(events, factor)
      .withColumn("event_id", shifted("event_id", evStride))
      .withColumn("user_id", shifted("user_id", userStride)))

    // documents: marker token every 3 words on replicas > 0 — breaks
    // every cross-replica shingle while keeping within-replica
    // duplicate structure identical to the source corpus
    val docs = Tables.documents(spark, src)
    val docStride = strideOf(docs, "doc_id")
    val marked = when(col("__r") === 0L, col("text")).otherwise(
      regexp_replace(col("text"), lit("((?:\\S+\\s+){3})"),
        concat(lit("$1zq"), col("__r"), lit(" "))))
    write("documents", replicate(docs, factor)
      .withColumn("text", marked)
      .withColumn("doc_id", shifted("doc_id", docStride))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: deterministic ±0.025 per-element jitter on
    // replicas > 0 (hash of (vec_id, element index, replica))
    val emb = Tables.embeddings(spark, src)
    val vecStride = strideOf(emb, "vec_id")
    val jittered = when(col("__r") === 0L, col("embedding")).otherwise(
      expr("transform(embedding, (x, i) -> " +
        "CAST(x + (pmod(hash(vec_id, i, __r), 1001) - 500) / 20000.0 " +
        "AS FLOAT))"))
    write("embeddings", replicate(emb, factor)
      .withColumn("embedding", jittered)
      .withColumn("vec_id", shifted("vec_id", vecStride)))

    println(s"""{"synth":"$dest","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
