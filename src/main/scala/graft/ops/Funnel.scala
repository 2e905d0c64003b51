package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis: how many users performed stage 1, then
  * stage 2 STRICTLY AFTER their first stage-1 event, then stage 3
  * strictly after that, … — the classic product-analytics conversion
  * funnel, with first-occurrence semantics (a user converts at the
  * EARLIEST time they complete each prefix, which makes the whole
  * computation a chain of min-aggregates — no per-user event-sequence
  * scan, no window sort).
  *
  * Scale shape: every stage is one filter (scan-side predicate
  * pushdown on the event type) → join against the previous stage's
  * (user, t) table → min-aggregate, ALL keyed on the user — the chain
  * re-uses one hash partitioning end to end (AQE exchange reuse), and
  * each stage's state is one bounded row per surviving user. Per-user
  * event volume never concentrates in a task, unlike
  * collect-the-user's-events-and-fold designs. Intermediate stage
  * tables are persisted because stage k's plan is read by stages
  * k+1..n AND by its own count branch; [[funnelCounts]] and
  * [[conversionLatencyBands]] release every stage frame before
  * returning (raw [[stageTimes]] callers own the handles they get).
  */
object Funnel {

  /** The per-stage `(user, first-completion-time)` tables — the state
    * the funnel chain runs on, one frame per stage prefix, shared by
    * [[funnelCounts]] (which counts them) and latency analyses (which
    * join them: time-to-convert for a user = stage k's time minus
    * stage 1's). Each frame is persisted (read by the next stage and
    * by the caller), and the caller unpersists it after its last read.
    */
  def stageTimes(
      events: DataFrame,
      userCol: Column,
      tsCol: Column,
      typeCol: Column,
      stages: Seq[String]): Seq[DataFrame] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val base = events.select(
      userCol.as("__u"), tsCol.as("__ts"), typeCol.as("__ty"))
    var reached: DataFrame = null
    stages.zipWithIndex.map { case (st, i) =>
      val hits = base.filter(col("__ty") === lit(st))
      reached =
        (if (i == 0) hits
         else hits
           .join(reached.withColumnRenamed("__t", "__prev"), Seq("__u"))
           .filter(col("__ts") > col("__prev")))
          .groupBy(col("__u")).agg(min(col("__ts")).as("__t"))
          .persist()
      reached
    }
  }

  /** Per-stage cumulative conversion counts:
    * `(stage, step ∈ 1..n, n_users)` — n_users monotonically
    * non-increasing down the funnel.
    *
    * Leak-free: each stage's count action materializes its frame;
    * the predecessor is unpersisted as soon as its last reader (the
    * successor's build) has consumed it, so NO cached stage frames
    * outlive the call. The counts themselves are ≤ |stages| longs —
    * a driver-bounded collect by construction (the [[Anomaly]] /
    * Experiment rule) — and return as a literal frame.
    */
  def funnelCounts(
      events: DataFrame,
      userCol: Column,
      tsCol: Column,
      typeCol: Column,
      stages: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    val times = stageTimes(events, userCol, tsCol, typeCol, stages)
    val counts = times.zipWithIndex.map { case (reached, i) =>
      val n = reached.count()
      if (i > 0) { times(i - 1).unpersist(); () }
      n
    }
    times.last.unpersist()
    import spark.implicits._
    stages.zip(counts).zipWithIndex
      .map { case ((st, n), i) => (st, i + 1, n) }
      .toDF("stage", "step", "n_users")
  }

  /** Time-to-convert histogram: users who completed the WHOLE funnel,
    * banded by `floor((t_last − t_first) / bandWidthUs)` microseconds
    * — fixed value bands (the q_lm_buckets rule: a percentile would
    * need a global sort; bands are one hash aggregate and exact
    * integer arithmetic, so the histogram is layout/engine-exact).
    * Emits `(band, n_users, min_us, max_us)` for occupied bands, as a
    * local checkpoint of the bands (band-cardinality, not user-
    * cardinality) that is released along with the returned frame.
    */
  def conversionLatencyBands(
      events: DataFrame,
      userCol: Column,
      tsCol: Column,
      typeCol: Column,
      stages: Seq[String],
      bandWidthUs: Long): DataFrame = {
    require(stages.size >= 2, "latency needs at least two stages")
    require(bandWidthUs > 0, s"bandWidthUs must be positive: $bandWidthUs")
    val times = stageTimes(events, userCol, tsCol, typeCol, stages)
    // materialize the chain front-to-back, releasing each MIDDLE
    // stage as soon as its successor lands — only the first and last
    // frames (the two the band plan reads) stay cached past the fold
    times.zipWithIndex.foreach { case (f, i) =>
      f.count()
      if (i >= 2) { times(i - 1).unpersist(); () }
    }
    val first = times.head.select(col("__u"), unix_micros(col("__t")).as("__t0"))
    val last = times.last.select(col("__u"), unix_micros(col("__t")).as("__t1"))
    val bands = last.join(first, Seq("__u"))
      .select((col("__t1") - col("__t0")).as("__d"))
      .groupBy(expr(s"__d div ${bandWidthUs}L").as("band"))
      .agg(count(lit(1)).as("n_users"),
        min(col("__d")).as("min_us"), max(col("__d")).as("max_us"))
      .transform(Pins.materializeOnce)
    times.head.unpersist()
    times.last.unpersist()
    bands
  }
}
