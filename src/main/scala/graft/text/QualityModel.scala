package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable linear quality classifier — the fastText-style document
  * quality filter of LLM data pipelines (weak labels in, a scoring
  * function out), hand-rolled on the DataFrame API so the scale story
  * is explicit:
  *
  *  - **training** is batch gradient descent where each iteration is
  *    ONE distributed aggregation pass (map-side partial sums, no
  *    shuffle of rows — only d+2 scalar aggregates cross the wire per
  *    pass). The feature frame is persisted once; 100 TB × 30
  *    iterations = 30 cheap column scans of a cached projection, the
  *    same pass structure as MLlib's LBFGS but with nothing hidden;
  *  - **determinism**: per-row gradient contributions are computed in
  *    double (deterministic per row) and then cast to DECIMAL(28,12)
  *    for the sum — decimal addition is exact, hence associative, so
  *    the learned weights are bit-identical on ANY partitioning or
  *    cluster layout. A double `sum` would drift in the low bits with
  *    the reduction order and break golden pins / cross-run
  *    reproducibility;
  *  - **scoring** folds the learned weights into a literal column
  *    expression — a shuffle-free codegen'd map pass, the same shape
  *    as every other quality signal in [[TextOps]].
  *
  * Features are the engine's own cheap per-document signals (length,
  * punctuation/digit/upper ratios, character entropy, mean token
  * length, stopword rate) — all computed in one scan with zero UDFs.
  */
object QualityModel {

  /** English stopword probes for the stopword-rate feature (public
    * top-frequency function words — the Gopher quality-signal set).
    */
  val Stopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was")

  // ---------------- quantized sigmoid (fastText-style) --------------
  //
  // fastText precomputes σ as a 512-bin lookup over [−8, 8]
  // (src/utils.cc: SIGMOID_TABLE_SIZE/MAX_SIGMOID) and never calls
  // exp() in the training loop. Adopting the same shape here buys two
  // things at once: the hot scoring path needs one multiply + one
  // array load instead of a libm exp call, and — because the table
  // entries are PLAN LITERALS and everything else in training is
  // rational arithmetic over engine-identical doubles — the whole
  // 15-iteration GD run becomes bit-replayable in DuckDB SQL
  // (OracleQuality), which is what moves q_quality_model /
  // q_quality_scores onto the hash-certified surface. A raw
  // `exp(-margin)` is NOT cross-engine reproducible: JVM Math.exp is
  // a platform intrinsic, DuckDB uses libm, and the last-ulp
  // disagreements leak through the DECIMAL(28,12) gradient casts.

  val SigmoidBins = 512
  val SigmoidBound = 8.0

  /** `SigmoidTable(i) = σ(i/32 − 8)`, i ∈ [0, 512]. Built once on the
    * JVM; the oracle inlines these exact values as VALUES literals, so
    * both engines look up the identical double.
    */
  val SigmoidTable: Array[Double] = Array.tabulate(SigmoidBins + 1)(i =>
    1.0 / (1.0 + math.exp(SigmoidBound - i * (2.0 * SigmoidBound / SigmoidBins))))

  /** Quantized sigmoid as a Column: 0 below −8, 1 above 8, else the
    * table entry at `⌊(x+8)·32⌋` — one codegen'd arithmetic index into
    * a literal array, no transcendental in the plan.
    */
  def sigmoid(x: Column): Column =
    when(x <= lit(-SigmoidBound), lit(0.0))
      .when(x >= lit(SigmoidBound), lit(1.0))
      .otherwise(element_at(typedlit(SigmoidTable.toSeq),
        ((x + lit(SigmoidBound)) *
          lit(SigmoidBins / (2.0 * SigmoidBound))).cast("int") + lit(1)))

  /** Scalar twin of [[sigmoid]] for sequential reference replays —
    * same clamp, same truncating index.
    */
  def sigmoidScalar(x: Double): Double =
    if (x <= -SigmoidBound) 0.0
    else if (x >= SigmoidBound) 1.0
    else SigmoidTable(((x + SigmoidBound) *
      (SigmoidBins / (2.0 * SigmoidBound))).toInt)

  /** Exact DECIMAL→double for the training sums, via the explicit
    * integer route both engines replay identically: the sum of
    * 9-dp-lattice addends is itself on the 9-dp lattice, so
    * `unscaled(9) / 1e9` is one correctly-rounded double division of
    * two exactly-representable values (|unscaled| < 2^53 up to
    * |sum| ~ 9·10^6 — far above any verify scale). The DuckDB replay
    * is `CAST(CAST(x*1e9 AS BIGINT) AS DOUBLE) / 1e9` — the same two
    * exact operands, the same single rounding. A plain
    * `BigDecimal.doubleValue` / `CAST(DECIMAL AS DOUBLE)` pair would
    * hinge on each engine's internal (and different) cast path.
    * Throws on a non-lattice value — that means a caller broke the
    * round-then-cast discipline upstream.
    */
  private[graft] def latticeDouble(bd: java.math.BigDecimal): Double =
    bd.setScale(9, java.math.RoundingMode.UNNECESSARY)
      .scaleByPowerOfTen(9).longValueExact.toDouble / 1e9

  /** The standard feature columns over a text column: bias first, all
    * bounded-scale (ratios and logs) so plain GD converges without
    * per-feature normalization state.
    */
  def features(text: Column): Seq[(String, Column)] = {
    import TextOps._
    val chars = charCount(text).cast("double")
    val toks = tokenCount(text).cast("double")
    val safeChars = greatest(chars, lit(1.0))
    val safeToks = greatest(toks, lit(1.0))
    // The two log features and the entropy feature are the only
    // transcendental-sourced values in the model; they are snapped to
    // a decimal lattice (the q_lm_score round-then-accumulate
    // discipline) so the feature doubles are engine-identical — JVM
    // Math.log and a SQL engine's ln() agree only to the last ulp,
    // and an unrounded ulp would propagate through every gradient
    // cast. 1e-9 / 1e-6 quantization is far below any model signal.
    // The ratio features are exact integer quotients and stay raw.
    Seq(
      "bias" -> lit(1.0),
      "log_chars" -> round(log(chars + lit(1.0)), 9),
      "log_tokens" -> round(log(toks + lit(1.0)), 9),
      "punct_ratio" -> punctCount(text).cast("double") / safeChars,
      "digit_ratio" -> digitCount(text).cast("double") / safeChars,
      "upper_ratio" -> upperCount(text).cast("double") / safeChars,
      "entropy" -> round(graft.functions.GraftFunctions.charEntropy(text), 6),
      "mean_token_len" -> chars / safeToks,
      "stopword_rate" -> wordHits(text, Stopwords).cast("double") / safeToks)
  }

  /** Inputs of at most this many rows train on the driver (see
    * [[train]]); larger ones run the distributed loop.
    */
  val LocalMaxRows: Long = 1000000L

  /** Train logistic weights by batch gradient descent over
    * STANDARDIZED features (z-scores from one exact-decimal stats
    * pass — raw features at wildly different scales would saturate
    * the sigmoid long before plain GD converges), then fold the
    * standardization back so the returned weights apply to the RAW
    * feature columns.
    *
    * @param df       input frame
    * @param feats    (name, column) features — the FIRST must be the
    *                 constant bias (the fold-back intercept lands on it)
    * @param label    0/1 double column (weak supervision)
    * @param iters    gradient steps (each = one aggregation pass)
    * @param lr       learning rate (standardized space)
    * @return weights aligned with `feats`, for the raw columns
    */
  def train(
      df: DataFrame,
      feats: Seq[(String, Column)],
      label: Column,
      iters: Int = 30,
      lr: Double = 0.5): Array[Double] = {
    require(feats.nonEmpty, "need at least one feature")
    require(iters > 0, s"iters must be positive, got $iters")
    val d = feats.size
    // features are cast to double up front so BOTH training paths see
    // DoubleType: the distributed lattice casts promote integral
    // columns implicitly, but trainLocal reads rows with getDouble —
    // an uncast long feature would work above the local-path gate and
    // ClassCastException below it (bounded-scale features are doubles
    // by contract anyway; the cast is a no-op the optimizer removes)
    val cols = feats.zipWithIndex.map {
      case ((_, c), i) => c.cast("double").as(s"x$i")
    }
    // spread the feature extraction (the regex-heavy map work) over
    // the cores when the input scan has fewer partitions than the
    // session has slots (r16 profile: 835 ms stats + 16 × 150 ms
    // gradient stages, all 1-task). Decimal sums are
    // layout-independent by design, so the weights are unchanged.
    val src = TextOps.spreadScan(df)
    // drop rows with any null feature or label BEFORE counting: the
    // decimal sums would silently skip them while n still counted
    // them, biasing every mean/gradient by the wrong denominator
    val frame0 = src.select(cols :+ label.cast("double").as("y"): _*)
      .na.drop()
    // Driver-bounded local fast path (the popularityNegatives catalog
    // contract): batch GD is `iters` SEQUENTIAL aggregation jobs, and
    // on a small input each job's fixed cost — scheduling two stages,
    // planning and compiling a fresh weight-literal plan — is the
    // entire wall time (r17 bisect: ~250-350 ms per pass against ~2 ms
    // of executor compute; q_quality_model spent 5 of its 7.4 bench
    // seconds between stages). Below the row bound, collect the
    // feature rows ONCE and run the identical lattice-decimal
    // arithmetic locally: decimal sums are exact in any order, so the
    // weights are bit-identical (QualityModelSpec pins the two paths
    // equal; the DuckDB oracle replay is a third pin). The input
    // count is metadata-only on a parquet scan; na.drop can only
    // shrink it. ~(d+1)·8B a row — the bound keeps the driver
    // footprint ≤ ~100 MB.
    if (df.count() <= LocalMaxRows)
      trainLocal(frame0.collect(), d, iters, lr)
    else trainDistributed(frame0, d, iters, lr)
  }

  /** The distributed GD loop: one aggregation pass per iteration over
    * the persisted feature frame — the scale path of [[train]].
    */
  private[graft] def trainDistributed(
      frame0: DataFrame, d: Int, iters: Int, lr: Double)
      : Array[Double] = {
    val frame = frame0.persist()
    try {
      // standardization stats in the same exact-decimal discipline as
      // the gradients: Σx and Σx² per feature — n rides in the SAME
      // pass (a separate count() would be one more scheduled job, and
      // on small data the fixed job cost dominates; see
      // history/PLANS_r6.md)
      // round-then-cast (the q_lm_score discipline): a 9-dp-rounded
      // double casts to the EXACT lattice decimal on any engine; a raw
      // double→DECIMAL(28,12) cast hinges on each engine's internal
      // double-rounding path. 1e-9 stat quantization is noise to GD.
      val statCols = (0 until d).flatMap(i => Seq(
        sum(round(col(s"x$i"), 9).cast("decimal(28,12)")).as(s"s$i"),
        sum(round(col(s"x$i") * col(s"x$i"), 9).cast("decimal(28,12)"))
          .as(s"q$i")))
      val st = frame
        .agg(statCols.head, statCols.tail :+ count(lit(1)).as("n"): _*)
        .head()
      val n = st.getLong(2 * d).toDouble
      if (n == 0) return new Array[Double](d) // nothing to learn from
      val mean = new Array[Double](d)
      val scale = new Array[Double](d)
      var i = 0
      while (i < d) {
        val s = Option(st.getDecimal(2 * i)).fold(0.0)(latticeDouble)
        val q = Option(st.getDecimal(2 * i + 1)).fold(0.0)(latticeDouble)
        val m = s / n
        val v = q / n - m * m
        // constant features (the bias) pass through unstandardized so
        // their weight is the plain intercept
        if (v > 1e-12) { mean(i) = m; scale(i) = math.sqrt(v) }
        else { mean(i) = 0.0; scale(i) = 1.0 }
        i += 1
      }
      val z = (0 until d).map(i =>
        (col(s"x$i") - lit(mean(i))) / lit(scale(i)))
      val w = new Array[Double](d)
      var it = 0
      while (it < iters) {
        // margin = w·z as a literal-folded expression; err = p − y
        val margin = (0 until d).map(i => z(i) * lit(w(i))).reduce(_ + _)
        val p = sigmoid(margin)
        val err = p - col("y")
        // exact decimal partial sums → layout-independent gradients
        // (round-then-cast, same rationale as the stats pass)
        val gradCols = (0 until d).map(i =>
          sum(round(err * z(i), 9).cast("decimal(28,12)")).as(s"g$i"))
        val row = frame.agg(gradCols.head, gradCols.tail: _*).head()
        i = 0
        while (i < d) {
          val g = row.getDecimal(i)
          // null only if the frame is empty — keep weights at zero
          if (g != null) w(i) -= lr * (latticeDouble(g) / n)
          i += 1
        }
        it += 1
      }
      foldBack(w, mean, scale)
    } finally { frame.unpersist(); () }
  }

  /** Raw-space fold-back shared by both training paths:
    * Σ wᵢ(xᵢ−mᵢ)/sᵢ = Σ (wᵢ/sᵢ)xᵢ − Σ wᵢmᵢ/sᵢ; the constant term
    * lands on the bias feature (x₀ ≡ 1).
    */
  private def foldBack(
      w: Array[Double], mean: Array[Double], scale: Array[Double])
      : Array[Double] = {
    val d = w.length
    val out = new Array[Double](d)
    var shift = 0.0
    var i = 0
    while (i < d) {
      out(i) = w(i) / scale(i)
      shift += w(i) * mean(i) / scale(i)
      i += 1
    }
    out(0) -= shift
    out
  }

  /** One Spark-side gradient/stat addend replayed locally: the same
    * double rounding Spark's `round(x, 9)` performs for DoubleType
    * (HALF_UP over the canonical `Double.toString` decimal — both
    * `scala.BigDecimal(double)` and `java.math.BigDecimal.valueOf`
    * take that route) followed by the same HALF_UP scale-12 cast the
    * `cast("decimal(28,12)")` applies. Exact, hence the local sums
    * match the distributed decimal aggregates bit for bit.
    */
  private def latticeAddend(v: Double): java.math.BigDecimal = {
    val r = java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    java.math.BigDecimal.valueOf(r)
      .setScale(12, java.math.RoundingMode.HALF_UP)
  }

  /** The GD loop over collected feature rows — the driver-bounded
    * twin of the distributed aggregation loop in [[train]]. Every
    * arithmetic step mirrors the Column expressions operation for
    * operation (left-associated margin sum, [[sigmoidScalar]]'s
    * clamp-and-truncate, [[latticeAddend]]'s round-then-cast), so the
    * learned weights are identical; QualityModelSpec asserts it.
    */
  private[graft] def trainLocal(
      rows: Array[org.apache.spark.sql.Row],
      d: Int, iters: Int, lr: Double): Array[Double] = {
    val n = rows.length.toDouble
    if (rows.isEmpty) return new Array[Double](d)
    val mean = new Array[Double](d)
    val scale = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = java.math.BigDecimal.ZERO
      var q = java.math.BigDecimal.ZERO
      var r = 0
      while (r < rows.length) {
        val x = rows(r).getDouble(i)
        s = s.add(latticeAddend(x))
        q = q.add(latticeAddend(x * x))
        r += 1
      }
      val m = latticeDouble(s) / n
      val v = latticeDouble(q) / n - m * m
      if (v > 1e-12) { mean(i) = m; scale(i) = math.sqrt(v) }
      else { mean(i) = 0.0; scale(i) = 1.0 }
      i += 1
    }
    val w = new Array[Double](d)
    val g = new Array[java.math.BigDecimal](d)
    var it = 0
    while (it < iters) {
      java.util.Arrays.fill(
        g.asInstanceOf[Array[AnyRef]], java.math.BigDecimal.ZERO)
      var r = 0
      while (r < rows.length) {
        val row = rows(r)
        // margin accumulates left-associated like the Column reduce
        var margin = 0.0
        i = 0
        while (i < d) {
          margin += (row.getDouble(i) - mean(i)) / scale(i) * w(i)
          i += 1
        }
        val err = sigmoidScalar(margin) - row.getDouble(d)
        i = 0
        while (i < d) {
          val zi = (row.getDouble(i) - mean(i)) / scale(i)
          g(i) = g(i).add(latticeAddend(err * zi))
          i += 1
        }
        r += 1
      }
      i = 0
      while (i < d) {
        w(i) -= lr * (latticeDouble(g(i)) / n)
        i += 1
      }
      it += 1
    }
    foldBack(w, mean, scale)
  }

  /** The learned model as a score column: sigmoid(w·x) with the
    * weights folded in as literals — shuffle-free, codegen'd, no
    * driver state at scoring time.
    */
  def scoreColumn(
      feats: Seq[(String, Column)], weights: Array[Double]): Column = {
    require(feats.size == weights.length,
      s"${feats.size} features vs ${weights.length} weights")
    val margin = feats.zip(weights)
      .map { case ((_, c), wi) => c * lit(wi) }
      .reduce(_ + _)
    sigmoid(margin)
  }

  /** Schema of [[weightsDf]] — the persistence contract; shared with
    * store round-trip readers so it can't drift from the frame.
    */
  val weightsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("feature",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("weight",
        org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** Weights as a small DataFrame for persistence / inspection. */
  def weightsDf(
      spark: org.apache.spark.sql.SparkSession,
      feats: Seq[(String, Column)],
      weights: Array[Double]): DataFrame = {
    val rows = feats.map(_._1).zip(weights).zipWithIndex.map {
      case ((name, wi), i) => org.apache.spark.sql.Row(i, name, wi)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), weightsSchema)
  }
}
