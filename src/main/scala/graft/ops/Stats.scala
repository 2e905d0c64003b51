package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distribution statistics over fact-scale columns: weighted
  * quantiles, Gini concentration, Benford digit audit, series
  * autocorrelation, CUSUM changepoint. Everything follows the engine's
  * exact-arithmetic contract (the q_corr_exact discipline): money as
  * integer cents, accumulation in DECIMAL(38,0) so the statistic is
  * order-independent under any cluster layout, ONE cast to double at
  * the very end under a round(..., <=6).
  *
  * Scale shapes, per operator:
  *  - weighted quantiles pre-aggregate to the (group, value) domain
  *    before any window — the cumulative pass runs over distinct
  *    values, not rows;
  *  - Gini ranks with the two-pass range-partition row number
  *    ([[Stats.globalRowNumber]]) — no single-task per-group sort, ever;
  *  - Benford is one map-side digit histogram (<= 9 output rows);
  *  - ACF / CUSUM reduce the fact table to a calendar-bounded daily
  *    series FIRST (the ops/Anomaly precedent), then run the
  *    sequential pass on <= #days rows where a single-partition
  *    window is the honest plan, not a bottleneck.
  */
object Stats {

  private val Dec = "decimal(38,0)"

  /** Exact weighted quantiles per group: the smallest value whose
    * cumulative weight reaches ceil(pct * totalWeight / 100), the
    * classic inclusive weighted-quantile definition — integer
    * arithmetic end to end, so any engine that sorts the same value
    * domain picks the identical row.
    *
    * BANDED TWO-PASS execution (the Skyline / tokenBudgetSample
    * discipline) — no per-group cumulative window ever sees the full
    * value domain, so a low-cardinality group column (3 return flags)
    * cannot funnel millions of distinct values through single tasks:
    *
    *  1. collapse fact rows to the distinct (group, value) domain
    *     with summed weights — the ONLY fact-scale exchange;
    *  2. band each group's value range into `bands` fixed-width
    *     integer intervals (per-group min/max broadcast back; band id
    *     by exact integer `div`, execution partitioning only — band
    *     edges never touch the result);
    *  3. per-(group, band) weight subtotals: a hash agg over the
    *     value domain down to ≤ #groups·bands rows — the BOUNDED band
    *     table; its per-group cumulative window partitions are ≤
    *     `bands` rows by construction;
    *  4. locate each percentile's BOUNDARY band (first band whose
    *     inclusive cumulative weight reaches the threshold) on that
    *     bounded table — ≤ #groups·#percents rows out;
    *  5. broadcast the boundary rows back onto the value domain and
    *     run the cumulative window ONLY inside each boundary band —
    *     every window partition holds ≤ bandWidth = ceil(range/bands)
    *     distinct integral values (e.g. a 1e7-cent price domain at
    *     bands=4096 → ≤ 2 443 rows/partition), seeded with the band's
    *     exclusive cumulative offset.
    *
    * Weight sums accumulate in DECIMAL(38,0) and finish as long (a
    * 100 TB quantity total is ~1e14, far inside long). The threshold
    * test is a pure-long cross-multiplication `100·cum >= pct·tot` —
    * no division anywhere: a double quotient would lose integer
    * precision once pct·tot passes 2^53 (~1e16 at 100 TB).
    *
    * @param df        fact rows
    * @param groupCol  grouping key
    * @param valueCol  integral value (e.g. price cents, long)
    * @param weightCol integral weight (long)
    * @param percents  percentiles as integers 1..100
    * @param bands     band count (window-partition bound is
    *                  ceil(valueRange/bands) distinct values)
    * @return (group, pct, value) — one row per group x percentile
    */
  def weightedQuantiles(
      df: DataFrame, groupCol: Column, valueCol: Column,
      weightCol: Column, percents: Seq[Int],
      bands: Int = 4096): DataFrame =
    weightedQuantiles(df, groupCol, valueCol, weightCol, percents,
      bands, inputIsDomain = false)

  /** The flagged variant is package-private: `inputIsDomain = true`
    * silently trusts the caller's (g, v)-uniqueness guarantee, and a
    * caller that breaks it gets wrong quantiles with no failure
    * signal (duplicate rows double-count weight in the band cumsum).
    * Only the operators in this file establish that contract with
    * their own groupBy (history/ADVICE.md).
    */
  private[ops] def weightedQuantiles(
      df: DataFrame, groupCol: Column, valueCol: Column,
      weightCol: Column, percents: Seq[Int],
      bands: Int, inputIsDomain: Boolean): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    // null values are EXCLUDED, like every SQL ordered-set aggregate —
    // kept in, a null band would sort NULLS FIRST into every
    // cumulative offset and silently shift each percentile
    //
    // `inputIsDomain = true` is the caller's guarantee that (g, v) is
    // ALREADY unique (the checkpointed domain every operator in this
    // file hands back in) — the domain-collapsing aggregate below is
    // then an identity re-shuffle of the whole domain, so it is
    // skipped outright: one full exchange + two stages saved per
    // quantile pass (r16; results identical by the uniqueness
    // contract, which madOutliers/winsorizedMean/paretoTopShare
    // establish with their own groupBy)
    val byValue =
      if (inputIsDomain)
        df.select(groupCol.as("g"), valueCol.as("v"),
            weightCol.cast(Dec).as("wsum"))
          .filter(col("v").isNotNull)
      else df
        .select(groupCol.as("g"), valueCol.as("v"), weightCol.as("w"))
        .filter(col("v").isNotNull)
        .groupBy(col("g"), col("v"))
        .agg(sum(col("w").cast(Dec)).as("wsum"))
    // per-group value bounds: ≤ #groups rows, broadcast back; the
    // band id is exact integer arithmetic ((v−lo) div width, width =
    // ceil(range/bands) ≥ 1) — no double division that could misband
    // past 2^53
    val bounds = byValue.groupBy(col("g").as("_qg"))
      .agg(min(col("v")).as("_lo"), max(col("v")).as("_hi"))
    val banded = byValue
      .join(broadcast(bounds), col("g") === col("_qg"))
      .withColumn("_width",
        greatest(lit(1L),
          expr(s"(_hi - _lo + ${bands}L) div ${bands}L")))
      .withColumn("band", expr("(v - _lo) div _width"))
      .select(col("g"), col("v"), col("wsum"), col("band"))
    // bounded band table: ≤ #groups·bands rows; its cumulative window
    // partitions are ≤ bands rows each — never the value domain
    val wg = Window.partitionBy(col("g"))
    val bandCum = banded
      .groupBy(col("g"), col("band"))
      .agg(sum(col("wsum")).as("bw"))
      .withColumn("cum_before",
        coalesce(
          sum(col("bw")).over(wg.orderBy(col("band"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0).cast(Dec)).cast("long"))
      .withColumn("totw", sum(col("bw")).over(wg).cast("long"))
    // boundary band per percentile: first band whose INCLUSIVE
    // cumulative reaches the threshold; min-struct picks that band's
    // exclusive offset along with it ((g, band) is unique here)
    val boundary = bandCum
      .withColumn("pct", explode(typedlit(percents)))
      .filter((col("cum_before") + col("bw").cast("long")) * lit(100L)
        >= col("pct") * col("totw"))
      .groupBy(col("g"), col("pct"))
      .agg(min(struct(col("band"), col("cum_before"), col("totw")))
        .as("_b"))
      .select(col("g").as("_bg"), col("pct"),
        col("_b.band").as("_bband"), col("_b.cum_before").as("_boff"),
        col("_b.totw").as("_btot"))
    // the within-band cumulative pass: the boundary table
    // (≤ #groups·#percents rows) broadcasts onto the value domain, so
    // only boundary-band values survive into the window — each
    // (g, pct) partition is ≤ bandWidth distinct values
    val wPct = Window.partitionBy(col("g"), col("pct"))
      .orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    banded
      .join(broadcast(boundary),
        col("g") === col("_bg") && col("band") === col("_bband"))
      .withColumn("cumw",
        col("_boff") + sum(col("wsum")).over(wPct).cast("long"))
      .filter(col("cumw") * lit(100L) >= col("pct") * col("_btot"))
      .groupBy(col("g"), col("pct"))
      .agg(min(col("v")).as("value"))
  }

  /** Robust outlier profile per group via MAD (median absolute
    * deviation): median m (the inclusive order statistic of
    * [[weightedQuantiles]] at pct 50), MAD = median(|v − m|), and the
    * count of rows with |v − m| > k·MAD — the classic
    * contamination-resistant alternative to mean±kσ (one far outlier
    * moves a mean arbitrarily; it moves a median not at all).
    *
    * Exactly ONE fact-scale exchange: the (group, value) domain agg,
    * localCheckpoint-ed (four consumers — median pass, deviation
    * pass, final profile — would otherwise re-scan the fact table
    * each). Both median passes run on the BANDED quantile machinery
    * over domain-sized input; medians/MADs attach back by broadcast
    * (≤ #groups rows). All-integer, so layout-exact and
    * oracle-replayable.
    *
    * MAD = 0 (over half the group's mass on one value) makes every
    * other value an outlier under the strict `>` test — the standard
    * MAD-rule behavior; callers wanting leniency filter mad > 0.
    *
    * @param df       fact rows
    * @param groupCol grouping key
    * @param valueCol integral value (e.g. cents)
    * @param k        MAD multiplier for the outlier fence
    * @return (g, median, mad, n_rows, n_outliers) per group
    */
  def madOutliers(
      df: DataFrame, groupCol: Column, valueCol: Column,
      k: Int = 3, bands: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dom = df
      .select(groupCol.as("g"), valueCol.as("v"))
      .filter(col("v").isNotNull) // null values excluded, SQL-style
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // domain-sized; the fact table scans ONCE
    val med = weightedQuantiles(
        dom, col("g"), col("v"), col("cnt"), Seq(50), bands,
        inputIsDomain = true)
      .select(col("g").as("_mg"), col("value").as("median"))
    val dev = dom
      .join(broadcast(med), col("g") === col("_mg"))
      .select(col("g"), abs(col("v") - col("median")).as("dv"),
        col("cnt"))
    val mad = weightedQuantiles(
        dev, col("g"), col("dv"), col("cnt"), Seq(50), bands)
      .select(col("g").as("_ag"), col("value").as("mad"))
    dom
      .join(broadcast(med), col("g") === col("_mg"))
      .join(broadcast(mad), col("g") === col("_ag"))
      .groupBy(col("g"), col("median"), col("mad"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(abs(col("v") - col("median")) >
          lit(k.toLong) * col("mad"), col("cnt")).otherwise(0L))
          .as("n_outliers"))
  }

  /** Pareto concentration ("what share of entities hold `pct`% of the
    * total"): per group, the size of the smallest top-prefix of
    * entities — ordered by value descending — whose summed value
    * reaches ceil(pct·total/100), plus the entity count and the
    * boundary value. The 80/20 report, exact.
    *
    * Input rows are ENTITIES (e.g. one row per customer with summed
    * spend). Runs on the value domain with the banded quantile
    * machinery — [[weightedQuantiles]] over v' = −v (descending
    * order) weighted by the value mass v·cnt finds the boundary value
    * v* (the smallest value inside the top prefix); one domain-sized
    * aggregate then counts the strictly-above mass and the
    * within-boundary remainder k = ceil(needed / v*). No per-group
    * single-task sort anywhere; all-integer.
    *
    * Values must be non-negative (negative spend would make the
    * descending prefix non-monotone); zero-value entities can never
    * enter the prefix.
    *
    * @return (g, n_entities, n_top, top_share_bp, threshold) — share
    *         in basis points, floor division
    */
  def paretoTopShare(
      df: DataFrame, groupCol: Column, valueCol: Column,
      pct: Int = 80, bands: Int = 4096): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be 1..100, got $pct")
    val dom = df
      .select(groupCol.as("g"), valueCol.as("v"))
      .filter(col("v").isNotNull) // null values excluded, SQL-style
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // value domain; the entity table scans ONCE
    // boundary from the top: ascending-inclusive quantile over −v
    // weighted by the value mass ⇔ descending-inclusive over v
    val bound = weightedQuantiles(
        dom.select(col("g"), (-col("v")).as("nv"),
          (col("v") * col("cnt")).as("mass")),
        col("g"), col("nv"), col("mass"), Seq(pct), bands,
        inputIsDomain = true)
      .select(col("g").as("_bg"), (-col("value")).as("vstar"))
    dom
      .join(broadcast(bound), col("g") === col("_bg"))
      .groupBy(col("g"), col("vstar"))
      .agg(
        sum(col("cnt")).as("n_entities"),
        // masses accumulate in DECIMAL(38,0), finish as long (total
        // value ~1e16 at 100 TB — inside long; the ACCUMULATION is
        // what must not overflow mid-shuffle)
        sum(col("v").cast(Dec) * col("cnt")).cast("long").as("tot"),
        sum(when(col("v") > col("vstar"),
          col("v").cast(Dec) * col("cnt")).otherwise(lit(0).cast(Dec)))
          .cast("long").as("above"),
        sum(when(col("v") > col("vstar"), col("cnt")).otherwise(0L))
          .as("cabove"))
      // threshold mass ceil(pct·T/100); k boundary-value entities
      // cover what the strictly-above mass misses (ceil division) —
      // pure-long `div` floor arithmetic, never a rounding cast
      .withColumn("th", expr(s"(tot * $pct + 99) div 100"))
      .withColumn("n_top",
        when(col("th") <= col("above"), col("cabove"))
          .otherwise(col("cabove") +
            expr("(th - above + vstar - 1) div vstar")))
      .select(col("g"), col("n_entities"), col("n_top"),
        expr("n_top * 10000 div n_entities").as("top_share_bp"),
        col("vstar").as("threshold"))
  }

  /** Theil T inequality index per group — the entropy-based
    * companion to [[gini]] (Gini weighs the middle of the
    * distribution; Theil is decomposable and sensitive to the top):
    * T = Σ (x_i/S)·ln(x_i·n/S), S = Σx, zero values contributing 0
    * (the 0·ln 0 convention). Values must be non-negative.
    *
    * Determinism is the lm_score 9-dp lattice (text/LangModel.scala),
    * here applied at FACT scale: each distinct value's log is
    * round(ln((v·n as double)/(S as double)), 9) carried as integer
    * nano-units (|ln| ≤ ln(n·max v) ≈ 60 → |l9| ≤ 6e10, exact in
    * long), the numerator Σ c_v·v·l9 accumulates in exact narrow
    * decimals, and theil_nano = HALF_UP(|N|/S) in integer arithmetic.
    * Budget: v ≤ 1e12 cents and l9 ≤ 6e10 keep the per-term product
    * inside decimal(18+12+11), the sum inside decimal(38,0).
    *
    * Scale shape: ONE fact-scale exchange (the checkpointed (g, v)
    * domain — [[madOutliers]]' discipline); logs are computed on the
    * bounded domain, map-side; per-group totals broadcast back.
    *
    * @return (g, n_rows, theil_nano) — T in nano-nats
    */
  def theil(
      df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dom = df
      .select(groupCol.as("g"), valueCol.as("v"))
      .filter(col("v").isNotNull) // null values excluded, SQL-style
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // domain-sized; totals + terms both read it
    val tot = dom.groupBy(col("g").as("_tg"))
      .agg(sum(col("cnt")).as("n"),
        sum(col("v").cast(Dec) * col("cnt")).cast("long").as("s"))
    dom
      .join(broadcast(tot), col("g") === col("_tg"))
      .withColumn("l9",
        when(col("v") > 0 && col("s") > 0,
          (round(log((col("v").cast("double") * col("n").cast("double"))
              / col("s").cast("double")), 9)
            .cast("decimal(20,9)") * lit(1000000000L)).cast("long"))
          .otherwise(lit(0L)))
      .groupBy(col("g"), col("n"), col("s"))
      .agg(sum(col("cnt").cast("decimal(18,0)") *
          col("v").cast("decimal(13,0)") * col("l9").cast("decimal(12,0)"))
        .as("num"))
      .select(col("g"), col("n").as("n_rows"),
        when(col("s") > 0,
          (when(col("num") < 0, lit(-1L)).otherwise(lit(1L)) *
            expr("(2 * abs(num) + s) div (2 * s)")))
          .otherwise(lit(0L)).as("theil_nano"))
  }

  /** Winsorized mean per group: values clamped to the [pLo, pHi]
    * order-statistic thresholds (the inclusive [[weightedQuantiles]]
    * definition at unit weight), then averaged exactly — the robust
    * mean that keeps magnitude information the median throws away
    * while staying bounded against tail contamination.
    *
    * One fact-scale exchange (the checkpointed domain); thresholds
    * broadcast back; the clamped sum accumulates in DECIMAL(38,0) and
    * the mean lands on a 6-dp integer lattice via HALF_UP division —
    * no float summation anywhere.
    *
    * @return (g, lo, hi, n_rows, wmean_micro) — mean in micro-units
    */
  def winsorizedMean(
      df: DataFrame, groupCol: Column, valueCol: Column,
      pLo: Int = 5, pHi: Int = 95, bands: Int = 4096): DataFrame = {
    require(pLo >= 1 && pHi <= 100 && pLo < pHi,
      s"need 1 <= pLo < pHi <= 100, got ($pLo, $pHi)")
    val dom = df
      .select(groupCol.as("g"), valueCol.as("v"))
      .filter(col("v").isNotNull) // null values excluded, SQL-style
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val th = weightedQuantiles(
        dom, col("g"), col("v"), col("cnt"), Seq(pLo, pHi), bands,
        inputIsDomain = true)
      .groupBy(col("g").as("_tg"))
      .agg(max(when(col("pct") === pLo, col("value"))).as("lo"),
        max(when(col("pct") === pHi, col("value"))).as("hi"))
    dom
      .join(broadcast(th), col("g") === col("_tg"))
      .withColumn("cv", greatest(col("lo"), least(col("hi"), col("v"))))
      .groupBy(col("g"), col("lo"), col("hi"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("cv").cast(Dec) * col("cnt")).as("csum"))
      .select(col("g"), col("lo"), col("hi"), col("n_rows"),
        // HALF_UP micro mean in pure integer arithmetic — csum is
        // non-negative only if values are; keep the sign explicit
        (when(col("csum") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(2 * abs(csum) * 1000000 + n_rows) div (2 * n_rows)"))
          .as("wmean_micro"))
  }

  /** Two-pass distributed row number over a total order — NO
    * single-task global (or per-group) sort, and exactly ONE
    * full-data exchange: range-repartition on the order key, a
    * per-partition record counter, add per-partition offsets (one
    * #partitions-sized driver array, read by one flat `element_at`, so
    * codegen stays flat at production partition counts like 2000).
    * The order key must be unique per row or ranks are
    * nondeterministic across runs; a single range
    * partition must stay under 2^33 rows (the counter's bit budget —
    * ~8.6e9 rows/partition, far above any sane partition sizing).
    *
    * The intermediate frame is persisted (the count pass and the
    * output pass must see the same sampled range boundaries); the
    * returned release handle must be called once the ranks have been
    * consumed.
    */
  def globalRowNumber(
      df: DataFrame, orderBy: Seq[Column],
      outCol: String): (DataFrame, () => Unit) = {
    val parts = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    // ONE wide exchange: range-partition on the order key, sort
    // WITHIN partitions (narrow), then read the within-partition
    // record number out of monotonically_increasing_id's documented
    // layout (upper 31 bits = partition id, lower 33 = record counter
    // in iteration order — which above the sort IS rank order; mid is
    // non-deterministic so Catalyst never reorders it below the
    // Sort). The obvious Window.partitionBy(spark_partition_id())
    // alternative forces a SECOND full-data hash exchange on _pid —
    // Catalyst cannot know the rows already sit in their own
    // partition — doubling the shuffled bytes of every ranking.
    val withRn = df.repartitionByRange(parts, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_rn", monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1)) + lit(1L))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = withRn.groupBy(col("_pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until parts).scanLeft(0L) {
      case (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }
    val offsetExpr = element_at(
      typedlit(offsets.take(parts).toSeq), col("_pid") + 1)
    val out = withRn
      .withColumn(outCol, offsetExpr + col("_rn"))
      .drop("_pid", "_rn")
    (out, () => { withRn.unpersist(); () })
  }

  /** Gini concentration coefficient of an integral value per group:
    * G = (2 * SUM(i * x_i) - (n + 1) * SUM(x)) / (n * SUM(x)) with
    * x ascending and i the 1-based rank — identically
    * row_number() OVER (PARTITION BY group ORDER BY value, key).
    *
    * Ranking uses [[globalRowNumber]] over (group, value, key) — the
    * global index minus the group's start index IS the within-group
    * rank, recovered from one tiny per-group MIN, so a 1e10-customer
    * segment never funnels through one task. SUM(i*x) accumulates in
    * DECIMAL(38,0): at 100 TB (rank ~1e10, cents ~1e8) the per-row
    * product is ~1e18 and the sum ~1e28 — inside decimal(38),
    * catastrophically outside long.
    *
    * The per-group result (<= #groups rows) is materialized eagerly
    * so the two-pass rank's cache can be released before returning —
    * the ops/Funnel cache-release lesson (ADVICE r9).
    *
    * @param df  one row per ranked entity: (group, key, value), key
    *            unique within group, value integral (cents)
    * @return (group, n, gini) — gini double rounded to 6 dp
    */
  def gini(
      df: DataFrame, groupCol: Column, keyCol: Column,
      valueCol: Column): DataFrame = {
    val base = df.select(
      groupCol.as("g"), keyCol.as("k"), valueCol.as("x"))
    val (ranked, release) = globalRowNumber(
      base, Seq(col("g"), col("x"), col("k")), "gidx")
    try {
      val agg = ranked.groupBy(col("g"))
        .agg(
          count(lit(1)).cast(Dec).as("n"),
          min(col("gidx")).as("g0"),
          sum(col("x").cast(Dec)).as("sx"),
          sum(col("gidx").cast(Dec) * col("x")).as("sgx"))
        // within-group rank i = gidx - g0 + 1, so
        // SUM(i*x) = SUM(gidx*x) - (g0 - 1) * SUM(x)
        .withColumn("six",
          col("sgx") - (col("g0") - lit(1)).cast(Dec) * col("sx"))
        .select(col("g"), col("n").cast("long").as("n"),
          round(((lit(2).cast(Dec) * col("six") -
              (col("n") + lit(1)) * col("sx")).cast("double")) /
            ((col("n") * col("sx")).cast("double")), 6).as("gini"))
      val rows = agg.collect().toSeq // <= #groups rows, by construction
      val spark = df.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), agg.schema)
    } finally release()
  }

  /** Benford first-significant-digit expected shares, percent,
    * rounded to 6 dp — log10(1 + 1/d) * 100 pinned as literals so the
    * engine and any oracle replay agree to the digit (a live log10()
    * could differ in the last ulp across math libraries).
    */
  val BenfordExpectedPct: Map[Int, Double] = Map(
    1 -> 30.103, 2 -> 17.609126, 3 -> 12.493874, 4 -> 9.691001,
    5 -> 7.918125, 6 -> 6.694679, 7 -> 5.799195, 8 -> 5.115252,
    9 -> 4.575749)

  /** First-significant-digit distribution of a positive integral
    * column vs the Benford expectation — the classic fabricated-data
    * audit. One map-side histogram (9 output rows, SinglePartition
    * gather); observed share is an exact long/long division done once
    * in double (correctly rounded, cross-engine identical) under a
    * round(, 6).
    *
    * @param valueCol positive integral values (e.g. price cents)
    * @return (digit, n, obs_pct, exp_pct) for digits that occur
    */
  def benford(df: DataFrame, valueCol: Column): DataFrame = {
    val digits = df
      .select(valueCol.as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("tot"))
    val expected = element_at(
      typedlit((1 to 9).map(BenfordExpectedPct)), col("digit"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double")
          * 100.0, 6).as("obs_pct"),
        round(expected, 6).as("exp_pct"))
  }

  /** Sample autocorrelation of an integral series at lags 1..maxLag:
    * Pearson correlation between (x_t, x_{t-k}) over the overlapping
    * pairs, from exact DECIMAL(38,0) moments (the q_corr_exact
    * discipline) — deterministic on any layout.
    *
    * The input must already be a reduced series (one row per bucket,
    * e.g. a daily total from a fact-table aggregate) — bounded by the
    * calendar, so the single-partition ordering window is the honest
    * plan (the ops/Anomaly contract), not a scale leak: the
    * distributed work happened in the reduction that produced it.
    *
    * @param series    (bucket, value) — one row per bucket
    * @param bucketCol ordering column (e.g. day)
    * @param valueCol  integral value (long)
    * @return (lag, n_pairs, acf) — acf double rounded to 6 dp
    */
  def acf(
      series: DataFrame, bucketCol: Column, valueCol: Column,
      maxLag: Int): DataFrame = {
    val w = Window.orderBy(bucketCol)
    val lagged = series.select(
      valueCol.as("x"),
      array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), lag(valueCol, k).over(w).as("y"))): _*)
        .as("lags"))
    val pairs = lagged
      .select(col("x"), explode(col("lags")).as("ly"))
      .select(col("x"), col("ly.lag").as("lag"), col("ly.y").as("y"))
      .filter(col("y").isNotNull)
    pairs.groupBy(col("lag"))
      .agg(
        count(lit(1)).cast(Dec).as("n"),
        sum(col("x").cast(Dec)).as("sx"),
        sum(col("y").cast(Dec)).as("sy"),
        sum(col("x").cast(Dec) * col("y")).as("sxy"),
        sum(col("x").cast(Dec) * col("x")).as("sxx"),
        sum(col("y").cast(Dec) * col("y")).as("syy"))
      .select(col("lag"), col("n").cast("long").as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast("double"))), 6).as("acf"))
  }

  /** CUSUM changepoint over an integral series: the bucket t
    * maximizing |n * S_t - t * T| (S_t = prefix sum, T = total, n =
    * #buckets) — the exact-integer form of max |S_t - t * mean|,
    * scaled by n so no division ever happens before the final means.
    * Ties break to the earliest bucket. Same reduced-series contract
    * as [[acf]].
    *
    * @return one row: (cp_bucket, n_buckets, stat, mean_before,
    *         mean_after) — stat = |n*S_t - t*T|, accumulated in
    *         DECIMAL(38,0) (n*S_t reaches ~4e19 on a decade of 100 TB
    *         days, past long) and finished as a rounded double; means
    *         are exact long/long divisions rounded to 6 dp, mean_after
    *         null when the changepoint is the last bucket
    */
  def cusumChangepoint(
      series: DataFrame, bucketCol: Column,
      valueCol: Column): DataFrame = {
    // the window orders by the RENAMED bucket — bucketCol may be an
    // expression over `series` that no longer resolves post-select
    val w = Window.orderBy(col("b"))
    val cum = series
      .select(bucketCol.as("b"), valueCol.as("x"))
      .withColumn("t", row_number().over(w))
      .withColumn("s", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = cum.agg(
      max(col("t")).as("n"), sum(col("x")).as("tt"))
    cum.crossJoin(broadcast(tot))
      .withColumn("d",
        abs(col("n").cast(Dec) * col("s") -
          col("t").cast(Dec) * col("tt")))
      .orderBy(col("d").desc, col("b").asc)
      .limit(1)
      .select(col("b").as("cp_bucket"),
        col("n").cast("long").as("n_buckets"),
        round(col("d").cast("double"), 6).as("stat"),
        round(col("s").cast("double") / col("t").cast("double"), 6)
          .as("mean_before"),
        when(col("t") < col("n"),
          round((col("tt") - col("s")).cast("double") /
            (col("n") - col("t")).cast("double"), 6))
          .as("mean_after"))
  }
}
