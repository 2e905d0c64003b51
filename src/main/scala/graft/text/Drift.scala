package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Pins

/** Corpus distribution drift — "did this crawl snapshot change under
  * me": Jensen–Shannon divergence between two corpora's hashed-n-gram
  * unigram distributions, per bucket and in total. The monitoring
  * complement of [[Dsir]] (which RESAMPLES toward a target
  * distribution; this MEASURES how far two corpora sit apart) — same
  * feature space (word unigrams + adjacent bigrams, md5-prefix
  * buckets), same add-1 smoothing, same engine-portable hashing, so a
  * DuckDB oracle replays bucket assignment and every per-bucket term.
  *
  * Why JS and not KL: JS is symmetric, bounded in [0, 1] (log base
  * 2), and defined even where one side's smoothed mass is tiny —
  * the standard drift score between dataset snapshots.
  *
  * Determinism discipline (the [[LangModel]]/[[Dsir]] rules): each
  * bucket's JS term passes through engine `log2` once and is rounded
  * to 9 dp; the TOTAL is the exact DECIMAL sum of those rounded terms
  * (order-independent on any layout), emitted as a 9-dp double — the
  * certified-surface contract (never a DECIMAL output column).
  *
  * 100 TB shape: ONE count pass per corpus (map-side partials, output
  * bounded by `buckets`); everything downstream is arithmetic over two
  * `buckets`-row frames. Nothing is proportional to corpus size after
  * the scans.
  */
object Drift {

  /** Per-bucket drift report between corpora `a` and `b`:
    * `(bucket, c_a, c_b, p_a, p_b, js_term)` for every bucket in
    * `[0, buckets)`. `p_*` are add-1-smoothed probabilities (exact
    * single divisions); `js_term` is the bucket's contribution to
    * JS divergence (log base 2), rounded to 9 dp. Zero-count buckets
    * still carry smoothed mass, so the report is always exactly
    * `buckets` rows — a bounded, broadcastable frame.
    */
  def bucketDrift(
      a: DataFrame,
      b: DataFrame,
      textCol: Column,
      buckets: Int = 4096): DataFrame =
    driftCore(
      a.select(textCol.as("__text"), lit(true).as("__a"))
        .unionByName(b.select(textCol.as("__text"), lit(false).as("__a"))),
      buckets)

  /** [[bucketDrift]] when the two corpora are predicate-selected
    * slices of ONE table (the snapshot-vs-snapshot / source-vs-rest
    * shape): both sides' bucket counts ride a single tokenize pass —
    * `count(*)` filtered each way on the same aggregate — so the
    * corpus is scanned once, not twice (the [[Dsir.fitWithin]]
    * fusion).
    */
  def bucketDriftWithin(
      docs: DataFrame,
      aPred: Column,
      textCol: Column,
      buckets: Int = 4096): DataFrame =
    driftCore(docs.select(textCol.as("__text"), aPred.as("__a")), buckets)

  private def driftCore(tagged: DataFrame, buckets: Int): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    // tokens materialize in their own projection BEFORE the gram
    // expression references them twice (the LangModel rule)
    val counts = tagged
      .select(TextOps.tokens(lower(col("__text"))).as("__toks"),
        col("__a"))
      .select(col("__a"), explode(Dsir.gramsCol(col("__toks"))).as("g"))
      .select(col("__a"), Dsir.bucketOf(col("g"), buckets).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(when(col("__a"), lit(1))).as("c_a"),
        count(when(!col("__a"), lit(1))).as("c_b"))
    // densify over the full bucket range: a bucket present in neither
    // corpus still has smoothed mass (and a zero js_term) — the report
    // cardinality is the model constant, not data-dependent
    val all = (0 until buckets).toDF("bucket")
    // materialized once: the totals probe below AND the returned
    // report both read this frame — otherwise each one re-runs the
    // whole corpus tokenize+count pass (measured ~2× the operator).
    // It is `buckets` rows.
    val joined = all
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .transform(Pins.materializeOnce)
    // totals are bounded aggregates of the bucket frames — collected
    // once so the probabilities are plan literals (no crossJoin that
    // would re-run the count pass per evaluation; the Dsir.fit rule)
    val totals = joined.agg(sum(col("c_a")), sum(col("c_b"))).head()
    val na = (if (totals.isNullAt(0)) 0L else totals.getLong(0)).toDouble
    val nb = (if (totals.isNullAt(1)) 0L else totals.getLong(1)).toDouble
    val bk = buckets.toDouble
    val pA = (col("c_a") + lit(1.0)) / lit(na + bk)
    val pB = (col("c_b") + lit(1.0)) / lit(nb + bk)
    // log2 spelled as ln(x)·(1/ln 2) with the SAME literal constant on
    // both engines — a native log2 could differ from ln/ln2 in the
    // last ulp on one side only; this way the single cross-engine
    // wobble is ln's ±1 ulp, which the 9-dp round absorbs (the Dsir
    // ratio argument)
    val log2e = lit(1.4426950408889634) // 1 / ln(2)
    joined.select(col("bucket"), col("c_a"), col("c_b"),
        pA.as("p_a"), pB.as("p_b"))
      .withColumn("js_term", round(
        (col("p_a") * log(col("p_a") * lit(2.0) /
          (col("p_a") + col("p_b"))) +
         col("p_b") * log(col("p_b") * lit(2.0) /
          (col("p_a") + col("p_b")))) * log2e * lit(0.5), 9))
  }

  /** Total JS divergence (log base 2, in [0, 1]): the exact decimal
    * sum of the 9-dp per-bucket terms, as a 9-dp double. One bounded
    * aggregate over the `buckets`-row report.
    */
  def jsDivergence(
      a: DataFrame,
      b: DataFrame,
      textCol: Column,
      buckets: Int = 4096): Double =
    bucketDrift(a, b, textCol, buckets)
      .agg(round(
        sum(col("js_term").cast("decimal(28,12)")).cast("double"), 9))
      .head().getDouble(0)

  /** Numeric-column drift via the Population Stability Index — THE
    * standard model-monitoring drift score ("PSI > 0.2 ⇒ investigate")
    * — between corpora `a` and `b` on `valueCol`, over FIXED value
    * bands: `band i = [lo + i·w, lo + (i+1)·w)` for
    * `w = (hi − lo)/nBands`, plus underflow band −1, overflow band
    * `nBands`, and null band `nBands + 1`. Fixed bands (the
    * q_lm_buckets rule) are what make this a pair of hash aggregates
    * — a quantile-banded PSI would need a global sort or a sketch;
    * at 100 TB the fixed-band form is exact, single-pass, and its
    * band edges cannot flip between engines (integer floor on exact
    * arithmetic).
    *
    * Emits one row per band of the full grid (`nBands + 3` rows):
    * `(band, c_a, c_b, p_a, p_b, psi_term)` with
    * `psi_term = (p_a − p_b)·ln(p_a / p_b)` rounded to 9 dp —
    * smoothed add-1 probabilities over `nBands + 3` cells, so empty
    * cells on one side stay finite. Total PSI = sum of terms
    * ([[psi]]). Determinism: the [[bucketDrift]] contract (exact
    * divisions, one ln, 9-dp round).
    */
  def psiBands(
      a: DataFrame,
      b: DataFrame,
      valueCol: Column,
      lo: Double,
      hi: Double,
      nBands: Int): DataFrame = {
    require(nBands >= 2 && hi > lo,
      s"need nBands >= 2 and hi > lo, got $nBands over [$lo, $hi)")
    val cells = nBands + 3 // value bands + under/over/null
    def bandOf(v: Column): Column = when(v.isNull, lit(nBands + 1))
      .when(v < lo, lit(-1))
      .when(v >= hi, lit(nBands))
      .otherwise(floor((v - lit(lo)) / lit((hi - lo) / nBands)).cast("int"))
    val tagged = a.select(valueCol.as("__v"), lit(true).as("__a"))
      .unionByName(b.select(valueCol.as("__v"), lit(false).as("__a")))
    val spark = a.sparkSession
    import spark.implicits._
    // densified over the FULL grid: an empty band still carries
    // smoothed mass, and its term is nonzero whenever the two totals
    // differ — dropping empty bands would silently understate PSI
    // materialized once (the driftCore rule): the totals probe and
    // the returned report both read it — otherwise each re-runs the
    // banding scan. `nBands + 3` rows.
    val counts = (-1 to (nBands + 1)).toDF("band")
      .join(tagged
        .select(bandOf(col("__v")).as("band"), col("__a"))
        .groupBy(col("band"))
        .agg(count(when(col("__a"), lit(1))).as("c_a"),
          count(when(!col("__a"), lit(1))).as("c_b")),
        Seq("band"), "left")
      .select(col("band"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .transform(Pins.materializeOnce)
    val totals = counts.agg(sum(col("c_a")), sum(col("c_b"))).head()
    val na = (if (totals.isNullAt(0)) 0L else totals.getLong(0)).toDouble
    val nb = (if (totals.isNullAt(1)) 0L else totals.getLong(1)).toDouble
    val pA = (col("c_a") + lit(1.0)) / lit(na + cells)
    val pB = (col("c_b") + lit(1.0)) / lit(nb + cells)
    counts.select(col("band"), col("c_a"), col("c_b"),
        pA.as("p_a"), pB.as("p_b"))
      .withColumn("psi_term", round(
        (col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")), 9))
  }

  /** Total PSI: exact decimal sum of the 9-dp band terms over the
    * full grid, as a 9-dp double.
    */
  def psi(
      a: DataFrame,
      b: DataFrame,
      valueCol: Column,
      lo: Double,
      hi: Double,
      nBands: Int): Double =
    psiBands(a, b, valueCol, lo, hi, nBands)
      .agg(round(
        sum(col("psi_term").cast("decimal(28,12)")).cast("double"), 9))
      .head().getDouble(0)

  /** [[jsDivergence]] over already-computed bucket-count maps —
    * driver-side, for monitors that hold the (bounded) counts in hand
    * (e.g. [[graft.streaming.DriftMonitor]] folding a micro-batch
    * against a stored reference). Same smoothing, same per-bucket
    * 9-dp rounding, same exact-decimal total as the DataFrame path:
    * DriftMonitorSpec pins the two paths equal on the same data.
    */
  def jsOfCounts(
      a: Map[Int, Long],
      b: Map[Int, Long],
      buckets: Int): Double = {
    val na = a.values.map(BigInt(_)).sum.toDouble
    val nb = b.values.map(BigInt(_)).sum.toDouble
    val bk = buckets.toDouble
    val log2e = 1.4426950408889634 // 1 / ln(2), the bucketDrift literal
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < buckets) {
      val pA = (a.getOrElse(i, 0L) + 1.0) / (na + bk)
      val pB = (b.getOrElse(i, 0L) + 1.0) / (nb + bk)
      val term = (pA * math.log(pA * 2.0 / (pA + pB)) +
        pB * math.log(pB * 2.0 / (pA + pB))) * log2e * 0.5
      sum = sum.add(java.math.BigDecimal.valueOf(term)
        .setScale(9, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    sum.doubleValue // exact: a sum of scale-9 decimals is scale-9
  }
}
