package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Pins

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Scale design (corpus ≫ memory, 1000 executors):
  *  - queries are a small set → always `broadcast` them; the corpus is
  *    scanned exactly once, partition-parallel;
  *  - brute-force top-k never sorts the corpus: per-partition candidate
  *    pruning keeps only k rows per (query × partition) before the
  *    single k-sized merge;
  *  - the LSH variant (random hyperplane signatures) buckets the corpus
  *    so each query probes ~1/2^bits of it, with exact re-ranking of
  *    candidates — the classic recall/cost dial.
  */
object Knn {

  /** Sequential-fold dot product in double precision, via the native
    * one-loop Catalyst expression [[graft.functions.VectorDot]].
    * Accumulation order is the array order with 0.0 init — bit-identical
    * to the interpreted `aggregate(zip_with(...))` fold it replaces and
    * to a left-fold SQL oracle.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vectorDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. In pair-scoring hot paths do NOT call this per
    * pair — precompute `norm` once per row and divide a [[dot]] by the
    * two norms (same expression, n instead of n² norm computations).
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force exact top-k cosine neighbors for each query vector.
    *
    * Implementation: broadcast the (small) query set, score the full
    * corpus once per query, keep top-k per query. The per-query
    * ordering carries the corpus id as tie-break so results are
    * deterministic. Spark plans the rank filter as a windowed top-k
    * with partial pushdown (WindowGroupLimit) — no global sort.
    */
  def bruteForceKnn(
      queries: DataFrame,  // (query_id, vector)
      corpus: DataFrame,   // (vec_id, vector)
      k: Int): DataFrame = {
    // zero-norm rows score NaN against everything, and NaN sorts above
    // every double — one degenerate corpus row would top EVERY query's
    // ranking. No-direction rows are excluded on both sides, here and
    // in every embedding path (mirrored in the oracles).
    val q = broadcast(queries.select(
      col("query_id"), col("vector").cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .filter(col("qn") > 0))
    val c = corpus.select(
      col("vec_id"), col("vector").cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .filter(col("cn") > 0)
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }

  /** Per-dimension (min, max) corpus statistics for [[sq8Code]] — ONE
    * narrow aggregation pass (map-side combined; the shuffle carries
    * ≤ `dim` rows per partition), collected bounded by `dim` rows (the
    * k-means/PCA bounded-collect discipline). Float minima/maxima are
    * exact under the double cast (widening, order-preserving).
    */
  def sq8Bounds(
      corpus: DataFrame,
      vecCol: Column): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(vecCol).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
    require(rows.nonEmpty, "empty corpus or empty vectors")
    val dim = rows.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dim)
    val scales = new Array[Double](dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      val mn = r.getDouble(1)
      val mx = r.getDouble(2)
      mins(i) = mn
      scales(i) = if (mx > mn) 256.0 / (mx - mn) else 0.0
    }
    (mins, scales)
  }

  /** INT8 scalar quantization (SQ8 — the faiss `ScalarQuantizer`
    * family): per-dimension linear map of the float coordinate onto
    * [0, 255], `code = clamp(⌊(x − min_i)·(256/(max_i − min_i))⌋)`.
    * 4× smaller than float32 (8× vs double) — at 100 TB the
    * difference between an embedding corpus that fits executor memory
    * and one that thrashes — and distances become small-integer
    * arithmetic. The quantization is IEEE-deterministic (one
    * subtraction, one multiply, one floor — both engines correctly
    * round identically), so codes are bit-identical cross-engine and
    * the oracle recomputes them from scratch.
    */
  def sq8Code(
      vec: Column,
      mins: Array[Double],
      scales: Array[Double]): Column = {
    val mnL = typedlit(mins.toSeq)
    val sL = typedlit(scales.toSeq)
    transform(vec, (x, i) =>
      least(lit(255L), greatest(lit(0L),
        floor((x.cast("double") - element_at(mnL, i + 1)) *
          element_at(sL, i + 1))))
        .cast("int"))
  }

  /** Exact top-k by SQUARED L2 over [[sq8Code]] codes — the quantized
    * flat scan: same broadcast-queries / single-corpus-scan /
    * windowed-top-k shape as [[bruteForceKnn]], but every distance is
    * a 64-lane small-integer sum instead of a double fold, and the
    * corpus rides through the scan at a quarter the bytes. All-integer
    * end to end → layout-exact, tie-broken on (dist, vec_id), and the
    * DuckDB oracle replays quantization + distances to hash equality.
    * Recall vs the float ranking is a property of the quantizer (for
    * 8-bit it is near-1 in practice); compose with [[Ivf]] cells when
    * even the quantized flat scan is too much.
    */
  def sq8Knn(
      queries: DataFrame,  // (query_id, vector)
      corpus: DataFrame,   // (vec_id, vector)
      k: Int): DataFrame = {
    val (mins, scales) = sq8Bounds(corpus, col("vector"))
    val q = broadcast(queries.select(col("query_id"),
      sq8Code(col("vector"), mins, scales).as("qc")))
    val c = corpus.select(col("vec_id"),
      sq8Code(col("vector"), mins, scales).as("cc"))
    val dist = aggregate(
      zip_with(col("qc"), col("cc"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    c.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("dist", dist)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dist", "rank")
  }

  /** Random-hyperplane LSH signature: bit i = sign(v · hᵢ). Hyperplanes
    * are generated from a fixed seed, so signatures are deterministic
    * and computable map-side on both corpus and queries.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long = 7L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] =
      Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val pl = typedlit(p)
      when(dot(vec, pl) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** LSH-bucketed ANN, OR-amplified: `tables` independent hyperplane
    * signatures (distinct seeds), each probed at its own bucket plus
    * every bucket one signature-bit away (Hamming-1 multiprobe), then
    * exact-reranking of the unioned candidates. A neighbor is found if
    * ANY table collides — recall ≈ 1−(1−p)^L for per-table collision
    * probability p — which is what makes moderate-similarity neighbors
    * reachable; a single table's p^bits is hopeless for them (recall
    * 0.2 measured on sf0.01 ground truth before amplification).
    * Candidate fraction is ~tables·(bits+1)/2^bits of the corpus — the
    * recall/cost dials. Measured against [[bruteForceKnn]] in KnnSpec
    * and in the RECALL.json artifact.
    */
  def lshKnn(
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      bits: Int = 6,
      tables: Int = 8): DataFrame = {
    // bucket key = table id in the high bits, signature in the low.
    // All tables' signatures come from ONE native-expression pass
    // ([[graft.functions.HyperplaneSignatures]]), materialized once per
    // row by the generator; probes derive from the exploded long with
    // bit ops — composing per-plane Column expressions instead
    // overflows codegen into interpreted evaluation (10× slower
    // measured, see embeddingNearDupLsh).
    def sigArr(v: Column): Column = graft.functions.GraftFunctions
      .hyperplaneSignatures(v, dim, bits, tables)
    def tag: Column = col("tbl").cast("long") * lit(1L << bits)
    val qBase = broadcast(queries.select(
      col("query_id"),
      col("vector").cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
      .filter(col("qn") > 0)) // no-direction rows: see bruteForceKnn
    val qProbes = array(col("sig") +:
      (0 until bits).map(i => col("sig").bitwiseXOR(lit(1L << i))): _*)
    val q = broadcast(qBase
      .select(col("query_id"), posexplode(sigArr(col("qv"))).as(Seq("tbl", "sig")))
      .select(col("query_id"), tag.as("tag"), explode(qProbes).as("psig"))
      .select(col("query_id"), (col("psig") + col("tag")).as("bucket")))
    // candidate generation over bare (id, bucket) rows — the corpus's
    // vectors never ride through the explode/join (512B/row vs 16B).
    // Materialized once: both the bucket pass and the vector-attach
    // join read it, or the corpus would be scanned (and norms
    // recomputed) twice.
    val cBase = corpus.select(
      col("vec_id"), col("vector").cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
      .filter(col("cn") > 0) // no-direction rows: see bruteForceKnn
      .transform(Pins.materializeOnce)
    val cIds = cBase
      .select(col("vec_id"), posexplode(sigArr(col("cv"))).as(Seq("tbl", "sig")))
      .select(col("vec_id"), (col("sig") + tag).as("bucket"))
    val cand = cIds.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      // a pair can collide in several tables — score each once
      .dropDuplicates("query_id", "vec_id")
    val scored = cand
      .join(cBase, Seq("vec_id"))
      .join(qBase, Seq("query_id"))
      .withColumn("score",
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }
}
