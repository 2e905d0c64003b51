package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `sample()`/`rand()` are seed-and-partitioning dependent — rerunning
  * on a repartitioned corpus samples DIFFERENT rows, which breaks
  * reproducible dataset builds and cross-engine checks. Content-hash
  * sampling keys the keep/drop decision on a stable row key instead:
  * the same row is kept in every run, on any cluster layout, in any
  * engine that agrees on md5 (all of them), and the sample composes
  * with incremental ingest (new rows get the same biasless rule).
  *
  * Rate granularity is 1/256 (first hash byte): coarse but plenty for
  * corpus downsampling, and it keeps the predicate a pure
  * codegen-friendly string compare that pushes into the scan.
  */
object Sampling {

  /** First md5 byte of the key as an int in [0, 255] — THE banding
    * rule shared by every sampler in this module, so they can never
    * disagree on band boundaries. NULL keys (md5 of null is null) are
    * pinned to the LAST band (255) so the rule stays exhaustive:
    * datasetSplit labels them with the last band, hashSample keeps
    * them only at rate 256 (keep-all), stratifiedHashSample only at a
    * stratum rate of 256 — one uniform rule, no silent drops at
    * keep-all rates.
    */
  private def hashByte(key: Column): Column = coalesce(
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("int"),
    lit(255))

  private def keep(key: Column, rate256: Int): Column = {
    require(rate256 >= 0 && rate256 <= 256,
      s"rate256 must be in [0,256], got $rate256")
    // first md5 byte as two lowercase hex chars: uniform over 0..255.
    // 0 and 256 can't be expressed as a 2-hex-char threshold ("100"
    // compares lexicographically, not numerically) — constant-fold them.
    // NULL keys coalesce to "ff" = band 255: dropped at every partial
    // rate, kept at 256 via the lit(true) branch — the same last-band
    // rule hashByte applies.
    if (rate256 == 0) lit(false)
    else if (rate256 == 256) lit(true)
    else coalesce(substring(md5(key.cast("string")), 1, 2), lit("ff")) <
      lit(f"$rate256%02x")
  }

  /** Keep ~`rate256`/256 of rows, decided by md5 of `key` — a stable
    * row identifier (compose multi-column keys with `concat_ws`).
    */
  def hashSample(df: DataFrame, key: Column, rate256: Int): DataFrame =
    df.filter(keep(key, rate256))

  /** Deterministic dataset split: label every row train/val/test (or
    * any banding) by which band of the first md5 byte it falls in.
    * `bands` are (label, width-in-256ths) and must sum to 256, so the
    * split is EXHAUSTIVE and EXCLUSIVE: each row gets exactly one
    * label, the same one in every run, on any layout, in any engine —
    * the property that keeps a held-out set held out across pipeline
    * rebuilds. Composes with incremental ingest: new rows land in
    * bands at the configured proportions with no coordination.
    */
  def datasetSplit(
      df: DataFrame,
      key: Column,
      bands: Seq[(String, Int)],
      labelCol: String = "split"): DataFrame = {
    require(bands.nonEmpty && bands.forall(_._2 > 0),
      "bands must be non-empty with positive widths")
    require(bands.map(_._2).sum == 256,
      s"band widths must sum to 256, got ${bands.map(_._2).sum}")
    val byte = hashByte(key)
    val uppers = bands.map(_._2).scanLeft(0)(_ + _).tail
    // NULL keys arrive as byte 255 (hashByte's last-band rule) and the
    // final band test (byte < 256) catches them; the otherwise branch
    // is a belt-and-braces backstop for the same last label
    val label = bands.tail.zip(uppers.tail)
      .foldLeft(when(byte < uppers.head, lit(bands.head._1))) {
        case (acc, ((l, _), hi)) => acc.when(byte < hi, lit(l))
      }
      .otherwise(lit(bands.last._1))
    df.withColumn(labelCol, label)
  }

  /** Deterministic K-fold assignment: `fold = md5(key)[0..8) mod k` —
    * the cross-validation companion of [[datasetSplit]]. Same key →
    * same fold on every run, any layout, any engine that agrees on
    * md5 (the oracle replays it verbatim), so fold membership
    * survives pipeline rebuilds and incremental ingest lands new rows
    * across folds with no coordination. 32 hash bits keep the mod-k
    * bias below k/2³² — ≈2⁻²² at k = 10³, and below 2⁻²⁵ for
    * k ≤ 128. NULL keys take fold k-1 (the [[datasetSplit]]
    * last-band rule).
    */
  def kFold(
      df: DataFrame,
      key: Column,
      k: Int,
      foldCol: String = "fold"): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    val h = conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.withColumn(foldCol,
      coalesce(pmod(h, lit(k.toLong)).cast("int"), lit(k - 1)))
  }

  /** Weight-proportional Poisson sampling: keep each row independently
    * with inclusion probability `min(1, k·w/W)` where `W = Σ w` — the
    * deterministic analogue of probability-proportional-to-size
    * sampling (Poisson/PPS, the design behind priority and VarOpt
    * sampling), with `E[|sample|] ≤ k` and equality when no weight is
    * capped. Rows with `w·k ≥ W` are kept ALWAYS (probability clamps
    * at 1), so heavy items — exactly the rows a weighted sample exists
    * to represent — can never be lost to hash luck.
    *
    * The keep decision is INTEGER-EXACT, not a float threshold: with
    * `u = first 48 bits of md5(key)` the rule is
    * `u·W < k·w·2⁴⁸`, evaluated in DECIMAL(38,0) (Spark) / HUGEINT
    * (the oracle) — both sides exact at any realistic `W`, so the
    * kept set is bit-identical on any layout, any engine, any run.
    * NULL keys pin to the top band `u = 2⁴⁸−1` (the [[hashByte]]
    * last-band rule): dropped at every partial probability, kept only
    * where the probability clamps to 1.
    *
    * 100 TB shape: ONE total-weight aggregate (map-side combined, one
    * row collected) literal-folded into a scan-stage filter — the
    * sample itself moves zero rows and shuffles nothing. Composes
    * with incremental ingest IF `W` and `k` are held fixed (the rule
    * is then a pure per-row predicate); re-solving `W` on a grown
    * corpus re-prices every row, which is the PPS trade by
    * definition.
    *
    * `weight` must be integral-valued and non-negative (cast happens
    * here); zero-weight rows are never kept (`p = 0`).
    */
  def weightedSample(
      df: DataFrame,
      key: Column,
      weight: Column,
      expectedK: Long): DataFrame = {
    require(expectedK > 0, s"expectedK must be positive, got $expectedK")
    val wLong = weight.cast("long")
    val totRow = df.agg(sum(wLong).as("w")).first()
    require(!totRow.isNullAt(0) && totRow.getLong(0) > 0L,
      "total weight must be positive")
    val totalW = totRow.getLong(0)
    val u48 = coalesce(
      conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
        .cast("decimal(38,0)"),
      lit(BigDecimal((1L << 48) - 1)))
    val lhs = u48 * lit(BigDecimal(totalW))
    val rhs = wLong.cast("decimal(18,0)") *
      lit(BigDecimal(expectedK)) * lit(BigDecimal(1L << 48))
    df.filter(lhs < rhs)
  }

  /** Solve for the per-stratum keep rates (in 1/256ths) that move the
    * corpus to a target mixture while keeping as many rows as
    * possible: the achievable total is `T = min_s count(s)/target(s)`
    * (the binding stratum is kept whole; every other stratum
    * downsamples to match), and each stratum's keep fraction is
    * `target(s)·T / count(s)`, floored to the 1/256 grid the hash
    * sampler can express. Strata outside `targets` rate 0 (dropped) —
    * the domain-mixing move of a pretraining data build.
    *
    * 100 TB shape: the only distributed work is ONE count pass
    * filtered to the targeted strata, so the collect is bounded by
    * `targets.size` rows regardless of how many distinct strata (web
    * domains, sources) the corpus has.
    */
  def mixtureRates(
      df: DataFrame,
      stratum: Column,
      targets: Map[String, Double]): Map[String, Int] = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(_ > 0.0),
      s"target proportions must be positive, got $targets")
    val total = targets.values.sum
    val counts = df
      .filter(stratum.isin(targets.keys.toSeq: _*))
      .groupBy(stratum.cast("string").as("s"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a targeted stratum absent from the data binds T to 0: the target
    // mixture is unachievable, everything rates 0 — surfaced loudly
    // rather than silently renormalized
    val t = targets.map { case (s, p) =>
      counts.getOrElse(s, 0L) / (p / total)
    }.min
    targets.map { case (s, p) =>
      val c = counts.getOrElse(s, 0L)
      // +1e-9 before the floor: the binding stratum's keep fraction is
      // exactly 1 algebraically but x·(c/x)/c can round a hair under 1
      // in doubles, which would floor the promised keep-whole rate to
      // 255/256. The epsilon is far above double rounding error and far
      // below the 1/256 grid, and the oracle SQL replays it verbatim.
      val rate =
        if (c == 0L) 0
        else math.floor(256.0 * (p / total) * t / c + 1e-9).toInt
      s -> math.min(256, math.max(0, rate))
    }
  }

  /** Deterministically resample `df` to the target stratum mixture:
    * [[mixtureRates]] solved on the data, applied with
    * [[stratifiedHashSample]] (strata outside `targets` drop). Same
    * stability story as every sampler here: re-running on any layout,
    * or incrementally on new data with the same rates, keeps the same
    * rows.
    */
  def mixtureSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      targets: Map[String, Double]): DataFrame =
    stratifiedHashSample(df, key, stratum,
      mixtureRates(df, stratum, targets), defaultRate256 = 0)

  /** Token-budget mixture sampling: keep, per stratum, the prefix of
    * documents in the deterministic-shuffle order (`md5(key), key` —
    * same order as [[deterministicShuffle]]) whose EXCLUSIVE running
    * `weight` total is still under that stratum's budget — i.e. take
    * documents "at random" (but stably) until the token budget is
    * reached; the document that crosses the budget is the last one
    * kept. Strata outside `budgets` drop. This is the token-weighted
    * form of [[mixtureSample]]: pretraining mixtures are specified in
    * TOKENS, not document counts, and per-document keep rates only hit
    * a token target in expectation — this hits it exactly (to within
    * one document), deterministically on any layout.
    *
    * 100 TB shape, two passes:
    *  1. per-(stratum, hash-band) weight totals — ONE partial-agg
    *     shuffle whose result (and the driver collect) is bounded by
    *     256·|budgets| rows regardless of corpus size. Because the
    *     order is `md5(key) asc`, a band boundary is also an order
    *     boundary: the driver locates, per stratum, the band the
    *     budget lands in.
    *  2. bands below the cut are kept whole by a shuffle-free scan
    *     filter (no window, no sort — the bulk of the kept data moves
    *     zero times); ONLY the single boundary band (~1/256 of one
    *     stratum) flows through the exact prefix-sum window, offset by
    *     the tokens accumulated before it.
    * The result is row-identical to the naive one-window-per-stratum
    * form (the DuckDB oracle replays that form), without ever sorting
    * a whole stratum on one task.
    *
    * `key` must be unique and non-null within targeted strata for the
    * order to be total; `weight` NULLs count as 0.
    *
    * Composition caveat (deliberately different from the rate
    * samplers): the kept set is a budget-length PREFIX of a global
    * hash order, so ingesting new documents re-divides the budget —
    * a new document can hash into the prefix and displace the last
    * previously-kept one. Rate samplers compose with incremental
    * ingest; a budget sample is a statement about ONE corpus
    * snapshot. Resolve it against a pinned TableStore version when
    * the kept set must be reproducible later.
    */
  def tokenBudgetSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      weight: Column,
      budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ >= 0L),
      s"budgets must be non-negative, got $budgets")
    // within one band, md5-string order refines band order, so a band
    // boundary is an order boundary. NULL keys land in band 255 and
    // sort after every hex digest ('~' > 'f'), same rule as
    // deterministicShuffle.
    bandedBudgetFill(df,
      strat = stratum.cast("string"),
      weight = coalesce(weight.cast("long"), lit(0L)),
      band = hashByte(key).cast("long"),
      bandWalk = 0L to 255L,
      noCut = 256L,
      earlier = (band, cut) => band < lit(cut),
      windowOrder = Seq(coalesce(md5(key.cast("string")), lit("~")), key),
      budgets = budgets)
  }

  /** Shared core of [[tokenBudgetSample]] and [[bestUnderBudget]] —
    * the banded budget fill. Preconditions the callers guarantee:
    * `band` is ORDER-ALIGNED with `windowOrder` (every row of an
    * earlier-walked band precedes every row of a later one, and
    * `bandWalk` lists the band ids in fill order), `strat` is already
    * a string, `weight` a non-null long.
    *
    * Pass 1 aggregates per-(stratum, band) weight totals (ONE
    * partial-agg shuffle; the collect is bounded by
    * |bandWalk|·|budgets| rows regardless of corpus size); the driver
    * walks each stratum's bands in fill order to find the band its
    * budget lands in. Bands walked before the cut are kept whole by a
    * shuffle-free scan filter — the bulk of the kept data moves zero
    * times; ONLY the boundary band flows through the exact exclusive
    * prefix-sum window, offset by the weight accumulated before it.
    * Row-identical to the naive one-window-per-stratum form the
    * DuckDB oracles replay, without ever sorting a whole stratum on
    * one task.
    */
  private def bandedBudgetFill(
      df: DataFrame,
      strat: Column,
      weight: Column,
      band: Column,
      bandWalk: Seq[Long],
      noCut: Long,
      earlier: (Column, Long) => Column,
      windowOrder: Seq[Column],
      budgets: Map[String, Long]): DataFrame = {
    // pass 1: per-(stratum, band) weight totals
    val perBand = df.filter(strat.isin(budgets.keys.toSeq: _*))
      .groupBy(strat.as("s"), band.as("b"))
      .agg(sum(weight).as("tw"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // driver: per stratum, the first band (in fill order) whose
    // running total REACHES the budget, and the weight accumulated
    // before it. cut=noCut ⇔ budget > stratum total (keep all).
    // `>=`, not `>`: a band whose cumulative total lands EXACTLY on
    // the budget may end with zero-weight rows whose exclusive prefix
    // equals the budget — the naive form drops those, so the band
    // must go through the window, not be kept whole.
    val cuts: Map[String, (Long, Long)] = budgets.map { case (st, budget) =>
      var cum = 0L
      var cut = noCut
      var off = 0L
      val walk = bandWalk.iterator
      while (walk.hasNext && cut == noCut) {
        val b = walk.next()
        val bw = perBand.getOrElse((st, b), 0L)
        if (cum + bw >= budget) { cut = b; off = cum }
        cum += bw
      }
      st -> (cut -> off)
    }
    val whole = df.filter(cuts.map { case (st, (cut, _)) =>
      strat === lit(st) && earlier(band, cut)
    }.reduce(_ || _))
    val boundary = cuts.filter { case (_, (cut, _)) => cut != noCut }
    if (boundary.isEmpty) whole
    else {
      val offset = boundary.foldLeft(lit(0L)) {
        case (els, (st, (_, off))) =>
          when(strat === lit(st), lit(off)).otherwise(els)
      }
      val budget = budgets.foldLeft(lit(0L)) {
        case (els, (st, b)) => when(strat === lit(st), lit(b)).otherwise(els)
      }
      // in-band prefix sum + pre-band offset = in-stratum exclusive
      // prefix sum, by the order-alignment precondition
      val wnd = Window.partitionBy(strat)
        .orderBy(windowOrder: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val kept = df.filter(boundary.map { case (st, (cut, _)) =>
          strat === lit(st) && band === lit(cut)
        }.reduce(_ || _))
        .withColumn("__graft_prior",
          coalesce(sum(weight).over(wnd), lit(0L)))
        .filter(offset + col("__graft_prior") < budget)
        .drop("__graft_prior")
      whole.union(kept)
    }
  }

  /** Quality-first budget fill: per stratum, keep the BEST documents
    * — highest `scoreBy` first — until the token budget is reached
    * (the FineWeb-style "top-quality under budget" selection;
    * [[tokenBudgetSample]] is the unbiased-random counterpart). The
    * fill order is `(scoreBy DESC NULLS LAST, md5(key), key)` — the
    * hash tie-break keeps the order total and layout-independent when
    * scores tie — and the exclusive running token total must stay
    * under the budget, so the document that crosses it is kept.
    *
    * Scale shape mirrors [[tokenBudgetSample]], with score bands in
    * place of hash bands: `width_bucket` over the stratum's observed
    * score range is ORDER-ALIGNED (a higher bucket is entirely
    * better-scored than a lower one, ties share a bucket), so
    *  - pass A: per-stratum score ranges (one agg, ≤ |budgets| rows);
    *  - pass B: per-(stratum, bucket) token totals (one partial-agg
    *    shuffle, ≤ (buckets+2)·|budgets| rows collected) — the driver
    *    walks buckets best-first to find each budget's boundary;
    *  - bands above the boundary keep whole via a shuffle-free scan
    *    filter; ONLY the boundary band flows through the exact
    *    prefix-sum window.
    * Uniform buckets degrade gracefully: a score distribution massed
    * into one bucket routes that bucket (at worst the stratum)
    * through the window — never wrong, just less pruned. NULL scores
    * fill last; `weight` NULLs count as 0; `key` must be unique and
    * non-null within targeted strata.
    */
  def bestUnderBudget(
      df: DataFrame,
      key: Column,
      stratum: Column,
      weight: Column,
      scoreBy: Column,
      budgets: Map[String, Long],
      buckets: Int = 254): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    require(budgets.values.forall(_ >= 0L),
      s"budgets must be non-negative, got $budgets")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val strat = stratum.cast("string")
    val w = coalesce(weight.cast("long"), lit(0L))
    val score = scoreBy.cast("double")
    val targeted = df.filter(strat.isin(budgets.keys.toSeq: _*))
    // pass A: per-stratum score ranges
    val ranges = targeted.groupBy(strat.as("s"))
      .agg(min(score).as("lo"), max(score).as("hi"))
      .collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getDouble(2)))))
      .toMap
    // bucket 0 = NULL scores only (lo is the observed min, nothing
    // sits below it); constant-score or all-null strata collapse to a
    // single non-null bucket — the graceful-degradation path
    def bucketFor(st: String): Column = ranges.get(st).flatten match {
      case Some((lo, hi)) if lo < hi =>
        coalesce(width_bucket(score, lit(lo), lit(hi), lit(buckets)),
          lit(0L))
      case _ =>
        when(score.isNotNull, lit(1L)).otherwise(lit(0L))
    }
    val bucket = budgets.keys.foldLeft(lit(0L)) { (els, st) =>
      when(strat === lit(st), bucketFor(st)).otherwise(els)
    }
    // walk BEST bucket first (buckets+1 down to 0: above-range, the
    // in-range bands, then the NULL bucket); cut = -1 ⇔ keep all
    bandedBudgetFill(df,
      strat = strat,
      weight = w,
      band = bucket,
      bandWalk = (buckets.toLong + 1L) to 0L by -1L,
      noCut = -1L,
      earlier = (band, cut) => band > lit(cut),
      windowOrder = Seq(score.desc_nulls_last,
        coalesce(md5(key.cast("string")), lit("~")), key),
      budgets = budgets)
  }

  /** Solve per-stratum TOKEN budgets for a target mixture under a
    * total token budget — the form a pretraining data spec actually
    * takes ("N tokens at 60/30/10 across sources"). The achievable
    * total is `T = min(totalBudget, min_s avail(s)/target(s))` (the
    * binding stratum caps the whole mixture, exactly like
    * [[mixtureRates]]; a targeted stratum absent from the data binds
    * T to 0 — surfaced loudly, not renormalized), and each stratum's
    * budget is `floor(target(s)·T + 1e-9)` (the epsilon replays
    * [[mixtureRates]]' binding-stratum floor guard: share·T is
    * algebraically integral for the binding stratum but can round a
    * hair under in doubles).
    *
    * One aggregation pass filtered to the targeted strata; the
    * collect is bounded by `targets.size` rows. Compose with
    * [[tokenBudgetSample]] (or call [[tokenMixtureSample]]).
    */
  def tokenMixtureBudgets(
      df: DataFrame,
      stratum: Column,
      weight: Column,
      totalBudget: Long,
      targets: Map[String, Double]): Map[String, Long] = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(_ > 0.0),
      s"target proportions must be positive, got $targets")
    require(totalBudget >= 0L, s"totalBudget must be >= 0, got $totalBudget")
    val total = targets.values.sum
    val avail = df
      .filter(stratum.isin(targets.keys.toSeq: _*))
      .groupBy(stratum.cast("string").as("s"))
      .agg(sum(coalesce(weight.cast("long"), lit(0L))).as("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = (targets.map { case (s, p) =>
      avail.getOrElse(s, 0L) / (p / total)
    } ++ Seq(totalBudget.toDouble)).min
    targets.map { case (s, p) =>
      s -> math.floor((p / total) * t + 1e-9).toLong
    }
  }

  /** [[tokenMixtureBudgets]] solved on the data and applied with
    * [[tokenBudgetSample]]: resample `df` to the target token mixture
    * under `totalBudget`, deterministically on any layout.
    */
  def tokenMixtureSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      weight: Column,
      totalBudget: Long,
      targets: Map[String, Double]): DataFrame =
    tokenBudgetSample(df, key, stratum, weight,
      tokenMixtureBudgets(df, stratum, weight, totalBudget, targets))

  /** Temperature-smoothed mixture targets — the multilingual/domain
    * rebalancing rule (α-smoothing, share_k ∝ n_k^α; mBERT's
    * exponentially-smoothed sampling, XLM-R's α = 0.3, arXiv:
    * 1911.02116 §3): α = 1 reproduces the natural mixture, α → 0
    * approaches uniform, in between low-resource strata gain share.
    * Unlike [[tokenMixtureBudgets]] the targets are COMPUTED from the
    * data, over every stratum present with positive token mass (NULL
    * strata excluded) — one aggregation pass, collect bounded by the
    * stratum cardinality (languages/domains — small by construction).
    *
    * This is a without-replacement engine, so the smoothed share of
    * the scarcest stratum binds the achievable total exactly as in
    * [[tokenMixtureBudgets]] (`T = min(totalBudget, min_k n_k/share_k)`)
    * — true UP-sampling (repeating low-resource data) is the training
    * loop's epoch schedule, not a sampling cut.
    *
    * Determinism discipline: every arithmetic step must be a pure
    * function of the data so the DuckDB oracle replays it double for
    * double. `z = Σ n_k^α` is the hazard — double addition is
    * order-sensitive — so the fold runs in SORTED stratum-key order
    * and the oracle sums with `ORDER BY s`. The residual cross-engine
    * risk is `pow` itself (libm, not IEEE-mandated correctly-rounded);
    * a 1-ULP share wobble moves `share·T` by ≪ the 1e-9 floor guard,
    * so budgets stay equal unless two strata tie for binding within
    * ULPs (dataset-measure zero).
    */
  def temperatureBudgets(
      df: DataFrame,
      stratum: Column,
      weight: Column,
      totalBudget: Long,
      alpha: Double): Map[String, Long] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(totalBudget >= 0L, s"totalBudget must be >= 0, got $totalBudget")
    val avail = df
      .filter(stratum.isNotNull)
      .groupBy(stratum.cast("string").as("s"))
      .agg(sum(coalesce(weight.cast("long"), lit(0L))).as("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .filter { case (_, n) => n > 0L }
      .sortBy(_._1)
    require(avail.nonEmpty, "no stratum with positive token mass to sample from")
    val powd = avail.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val z = powd.map(_._2).foldLeft(0.0)(_ + _)
    val availMap = avail.toMap
    val t = (powd.map { case (s, p) => availMap(s) / (p / z) } :+
      totalBudget.toDouble).min
    powd.map { case (s, p) =>
      s -> math.floor((p / z) * t + 1e-9).toLong
    }.toMap
  }

  /** [[temperatureBudgets]] applied with [[tokenBudgetSample]]: the
    * one-call α-smoothed corpus rebalance.
    */
  def temperatureMixtureSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      weight: Column,
      totalBudget: Long,
      alpha: Double): DataFrame =
    tokenBudgetSample(df, key, stratum, weight,
      temperatureBudgets(df, stratum, weight, totalBudget, alpha))

  /** Deterministic corpus shuffle: a stable pseudo-random TRAINING
    * ORDER (what a pretraining run actually needs — the same "random"
    * sequence on every rebuild, resumable mid-epoch, identical across
    * cluster layouts and engines) as `ORDER BY md5(key), key` — the
    * key tie-break makes the order total even under md5 collisions.
    * One range exchange (Spark samples range bounds, then sorts
    * partitions independently) — the scale-sane global sort; reading
    * the result back in file order replays the epoch.
    *
    * `key` must be a UNIQUE, NON-NULL row identifier (compose
    * multi-column keys with `concat_ws`, same contract as
    * [[hashSample]]) for the order to be total. Null keys are pinned
    * AFTER every hash (coalesce to `"~"` > any hex char, identically
    * in any engine — engines disagree on bare NULL placement), but
    * their order among themselves is undefined.
    */
  def deterministicShuffle(df: DataFrame, key: Column): DataFrame =
    df.orderBy(coalesce(md5(key.cast("string")), lit("~")), key)

  /** Exact-count deterministic per-stratum sample: the `k` rows of
    * each stratum that come FIRST in the deterministic-shuffle order
    * (`md5(key), key` — same lattice as [[deterministicShuffle]]), so
    * the draw is layout/engine-stable and composes with everything
    * else keyed on that order. The fixed-size complement of
    * [[stratifiedHashSample]]: that draws a RATE per stratum, this
    * draws an exact COUNT (the "5 000 docs per domain" balanced-subset
    * shape). Runs on the bounded-heap top-k aggregate
    * ([[graft.ops.TopK]]) — no per-stratum window sort; each map task
    * holds ≤ k rows per stratum and the exchange carries ≤ k-row
    * states, so one giant domain cannot serialize through one task.
    * Output: `sample_rank` (1..k in the shuffle order) plus the
    * original columns. The full row rides inside the heap's ordering
    * struct (the (md5, key) prefix always decides, but struct
    * ordering requires ORDERABLE columns — map-typed columns need
    * projecting away first).
    */
  def fixedCountPerStratum(
      df: DataFrame,
      strata: Seq[String],
      key: Column,
      k: Int): DataFrame = {
    val ord = struct(
      coalesce(md5(key.cast("string")), lit("~")).as("__m"),
      key.as("__k"),
      struct(df.columns.map(c => col(s"`$c`")).toSeq: _*).as("__row"))
    graft.ops.TopK.topKPerGroup(df, strata, ord, k, largest = false)
      .select(col("rank").as("sample_rank") +:
        df.columns.map(c => col(s"__row.`$c`").as(c)).toSeq: _*)
  }

  /** Per-stratum hash sampling: `rates` maps values of `stratum` to
    * keep-rates in 1/256ths; unlisted strata use `defaultRate256`.
    * The standard rebalancing move (e.g. downsample boilerplate-heavy
    * sources, keep all rare-language documents) as one scan + filter.
    */
  def stratifiedHashSample(
      df: DataFrame,
      key: Column,
      stratum: Column,
      rates: Map[String, Int],
      defaultRate256: Int = 256): DataFrame = {
    require(defaultRate256 >= 0 && defaultRate256 <= 256,
      s"rate256 must be in [0,256], got $defaultRate256")
    val rate = rates.foldLeft(lit(defaultRate256)) { case (els, (v, r)) =>
      require(r >= 0 && r <= 256, s"rate256 must be in [0,256], got $r")
      when(stratum === lit(v), lit(r)).otherwise(els)
    }
    // integer compare of the first hash byte — a 2-hex-char string
    // threshold cannot express rate 256 (keep-all)
    df.filter(hashByte(key) < rate)
  }

  /** Popularity-weighted negative sampling for contrastive /
    * recommendation training: for every positive (user, item) pair,
    * draw `k` deterministic negatives from the item catalog with
    * probability ∝ weight (typically interaction count — popular
    * items make hard negatives), then anti-join away any draw that is
    * a true positive for that user (the standard "sample then filter
    * collisions" contract — a dropped draw is visible in the output
    * arity, never silently replaced).
    *
    * Determinism is the module's md5 rule: draw j for (user, item) is
    * the first 12 hex chars of md5("<seed>:<user>:<item>:<j>") as an
    * integer (48 bits, exact in long) mod the total weight W; the
    * drawn item is the inverse-CDF lookup — the unique item whose
    * cumulative-weight interval [start, start+w) contains the draw.
    * Identical in any md5-agreeing engine (DuckDB replays via
    * '0x'-cast + ASOF JOIN on start <= h).
    *
    * Scale shape: the CATALOG is driver-bounded (sorted item +
    * cumulative-start arrays, broadcast; the DSIR/Markov
    * bounded-collect precedent — item catalogs are ~1e6–1e7 entries,
    * corpus-scale is the POSITIVES table, which only streams through
    * a mapPartitions draw (binary search per draw — inexpressible as
    * a codegen'd expression without an O(|catalog|) HOF scan, the
    * documented mapPartitions-as-last-resort case) and one anti-join
    * keyed (user, item). Weights must be positive.
    *
    * @param positives (user, item) long pairs — need not be distinct
    *   (the draw projection distincts internally; duplicates neither
    *   inflate output arity nor change any draw)
    * @param itemWeights (item, weight) — the catalog, driver-bounded
    *   (hard-capped at [[MaxCatalogItems]], failing loudly)
    * @return (user, pos_item, j, neg_item) — ≤ k rows per positive
    */
  /** Hard cap on [[popularityNegatives]]' driver-collected item
    * catalog — two longs per entry ≈ 512 MB of driver arrays at the
    * cap. Item catalogs run 1e6–1e7 entries; anything larger is a
    * fact table in the weights slot, and the require fails loudly
    * rather than OOMing the driver.
    */
  val MaxCatalogItems: Int = 32 * 1000 * 1000

  def popularityNegatives(
      positives: DataFrame, userCol: Column, itemCol: Column,
      itemWeights: DataFrame, wItemCol: Column, weightCol: Column,
      k: Int, seed: String = "neg"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = positives.sparkSession
    import spark.implicits._
    // the driver-bounded contract stays LOUD *before* the bytes move:
    // limit(cap+1) bounds what the executors ever ship to the driver,
    // so a fact table in the weights slot fails the require below at
    // ~cap memory instead of OOMing the collect itself at 100 TB
    // (the post-collect require could never fire past driver memory)
    val catalog = itemWeights
      .select(wItemCol.cast("long").as("i"),
        weightCol.cast("long").as("w"))
      .filter(col("w") > 0)
      .orderBy(col("i"))
      .limit(MaxCatalogItems + 1)
      .as[(Long, Long)].collect()
    require(catalog.nonEmpty, "empty item catalog")
    require(catalog.length <= MaxCatalogItems,
      s"item catalog exceeds the driver-bounded budget of " +
        s"$MaxCatalogItems rows; aggregate or filter the weights " +
        "table first")
    val items = catalog.map(_._1)
    val starts = catalog.map(_._2).scanLeft(0L)(_ + _)
    val total = starts.last
    val bItems = spark.sparkContext.broadcast(items)
    val bStarts = spark.sparkContext.broadcast(starts)
    // draw j is keyed by (user, item, j) alone, so duplicate positive
    // rows would emit byte-identical duplicate draw rows — distinct
    // first (one exchange over two longs) so output arity is exactly
    // ≤ k per distinct positive, never silently inflated
    // materialized once: the draw pass AND the anti-join below both
    // consume it, and without the pin the whole positives subtree (a
    // fact join + distinct at the q_negative_samples call site)
    // executes once per consumer (r17 profile: two identical 870 ms
    // stages).
    val posDistinct = positives
      .select(userCol.cast("long").as("u"), itemCol.cast("long").as("p"))
      .distinct()
      .transform(Pins.materializeOnce)
    val drawn = posDistinct
      .as[(Long, Long)]
      .mapPartitions { it =>
        val is = bItems.value
        val st = bStarts.value // exclusive prefix sums, length n+1
        val md = java.security.MessageDigest.getInstance("MD5")
        // the k draw strings share the s"$seed:$u:$p:" prefix — build
        // it once per positive and append the cached digit bytes, so
        // the hot loop does one interpolation per row, not per draw
        val jBytes = Array.tabulate(k)(_.toString.getBytes("UTF-8"))
        it.flatMap { case (u, p) =>
          val prefix = s"$seed:$u:$p:".getBytes("UTF-8")
          (0 until k).iterator.map { j =>
            md.update(prefix)
            md.update(jBytes(j))
            val dig = md.digest()
            // the first 6 digest bytes read big-endian ARE the value
            // the old hex-render + parseLong(hex, 16) round-trip
            // produced — same 48-bit draw, none of the per-draw
            // formatter/string work in the hot loop (r16 profile:
            // this closure was 13.3 s of the query's 14.7 s CPU)
            var h = 0L
            var bi = 0
            while (bi < 6) { h = (h << 8) | (dig(bi) & 0xffL); bi += 1 }
            h %= total
            // greatest idx with st(idx) <= h — inverse CDF
            var lo = 0; var hi = is.length - 1
            while (lo < hi) {
              val mid = (lo + hi + 1) >>> 1
              if (st(mid) <= h) lo = mid else hi = mid - 1
            }
            (u, p, j, is(lo))
          }
        }
      }
      .toDF("u", "pos_item", "j", "neg_item")
    // anti-join against the SAME distinct frame the draws came from
    // (anti-join semantics ignore right-side duplicates): the two
    // consumers now share one canonical subplan, so the positives
    // join+distinct executes once and its exchange is reused instead
    // of the whole subtree running twice (r16 profile: two identical
    // 1.5 s stages materializing the same orders⋈lineitem projection)
    drawn.join(
      posDistinct.select(col("u").as("au"), col("p").as("ai")),
      col("u") === col("au") && col("neg_item") === col("ai"),
      "left_anti")
  }
}
