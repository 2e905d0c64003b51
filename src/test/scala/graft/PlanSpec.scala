package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.ops.SnapshotDiff

/** Physical-plan regression gate: the history/PLANS_r*.md audit claims that
  * make these queries scale — pushed filters, single-shuffle
  * aggregation, shuffle-free sampling, broadcast band join, top-k
  * without a global sort — asserted against the actual plans so a
  * future change that silently un-pushes a filter or adds an Exchange
  * fails CI instead of the next plan audit's eyeball.
  *
  * Same mechanism as BucketedSpec: string checks on the executed
  * (AQE-final) physical plan, or on `explainString(FormattedMode)`
  * where the claim is about scan metadata (the tree string truncates
  * PushedFilters past maxMetadataStringLength).
  */
class PlanSpec extends SparkTestBase {

  // plan shape claims are about the production plan, which the tiny
  // sf0.001 inputs can distort (everything broadcasts); sf0.01 is the
  // smallest dir where the claims are meaningfully exercised and is
  // what the driver's Verify runs against
  private val dir = "/root/testdata/sf0.01"

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Final physical plan string after execution (AQE finalized),
    * truncated at the Initial Plan section AQE appends so node counts
    * are not double-counted.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    val fin = if (cut >= 0) s.substring(0, cut) else s
    spark.catalog.clearCache()
    fin
  }

  /** Count shuffle exchanges (hash/range/single partitioning) in a
    * final-plan string; BroadcastExchange deliberately not counted.
    */
  private def shuffles(plan: String): Int =
    "Exchange (hash|range|Single)partitioning".r
      .findAllMatchIn(plan).length

  test("q_point_lookup pushes its key predicate into the parquet scan") {
    val plan = formatted(q("q_point_lookup"))
    assert(plan.contains("PushedFilters: [")
      && !plan.contains("PushedFilters: []"),
      s"point-lookup filter not pushed:\n$plan")
  }

  test("q_asof_join pushes the event-type filters into both scans") {
    val plan = formatted(q("q_asof_join"))
    assert(plan.contains("EqualTo(event_type,"),
      s"as-of event-type filter not pushed to the scan:\n$plan")
    // one Window over the unioned stream — the single-shuffle sorted-
    // carry shape; a range-join or per-key nested loop would not have it
    assert(plan.contains("Window"), s"as-of lost its window shape:\n$plan")
  }

  test("q_grouping_sets aggregates every level through ONE shuffle") {
    val plan = finalPlan(q("q_grouping_sets"))
    assert(plan.contains("Expand"), s"no Expand in grouping sets:\n$plan")
    assert(shuffles(plan) == 1,
      s"grouping sets expected exactly 1 Exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("q_cube_agg aggregates every level through ONE shuffle") {
    val plan = finalPlan(q("q_cube_agg"))
    assert(plan.contains("Expand"), s"no Expand in cube:\n$plan")
    assert(shuffles(plan) == 1,
      s"cube expected exactly 1 Exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("q_sample_hash is a shuffle-free scan filter") {
    val plan = finalPlan(q("q_sample_hash"))
    assert(shuffles(plan) == 0,
      s"hash sampling must not shuffle, got ${shuffles(plan)}:\n$plan")
  }

  test("q_range_join plans the band as a broadcast equi-join at sf0.01") {
    val plan = finalPlan(q("q_range_join"))
    assert(plan.contains("BroadcastHashJoin"),
      s"band join not broadcast at sf0.01:\n$plan")
    // the scale contract: an equi-join on the derived bucket, never a
    // per-key cartesian (BroadcastNestedLoopJoin / CartesianProduct)
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join degenerated to a cartesian form:\n$plan")
  }

  test("q_top5_sales takes top-k without a global sort") {
    val plan = finalPlan(q("q_top5_sales"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k lost TakeOrderedAndProject:\n$plan")
  }

  test("q_decontaminate broadcasts the benchmark shingle set") {
    // the scale contract: the training side is ONE map-side
    // semi-joined scan against a broadcast benchmark index — the
    // 100 TB train corpus is never shuffled on shingles
    val plan = finalPlan(q("q_decontaminate"))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle set not broadcast:\n$plan")
  }

  test("q_pack_sequences groups each bucket through ONE shuffle") {
    val plan = finalPlan(q("q_pack_sequences"))
    assert(shuffles(plan) == 1,
      s"packing expected exactly 1 Exchange (the bucket groupBy), " +
        s"got ${shuffles(plan)}:\n$plan")
  }

  test("q_decontaminate_semantic broadcasts the bench embeddings, one shuffle") {
    // the cross product is INTENTIONAL (scan × broadcast eval index):
    // assert the build side broadcasts and only the flagged-hit argmax
    // shuffles — a plan where the train side exchanges would mean the
    // corpus scan is no longer map-side
    val plan = finalPlan(q("q_decontaminate_semantic"))
    assert(plan.contains("BroadcastNestedLoopJoin")
      && plan.contains("BroadcastExchange"),
      s"bench embedding frame not broadcast:\n$plan")
    assert(shuffles(plan) == 1,
      s"expected exactly 1 Exchange (the argmax), got ${shuffles(plan)}:\n$plan")
  }

  test("q_boilerplate_strip never degenerates to a cartesian form") {
    val plan = finalPlan(q("q_boilerplate_strip"))
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"boilerplate anti-join degenerated:\n$plan")
  }

  test("q_doc_bpe_apply segments shuffle-free inside codegen") {
    // the apply side of BPE is a map-only pass: the learned merge
    // table rides in the expression, so the corpus scan never
    // exchanges and the projection stays a WholeStageCodegen span
    val plan = finalPlan(q("q_doc_bpe_apply"))
    assert(shuffles(plan) == 0,
      s"BPE apply must not shuffle, got ${shuffles(plan)}:\n$plan")
    // codegen stages render as "*(n)" node prefixes in the tree string
    assert("""\*\(\d+\) Project \[doc_id""".r.findFirstIn(plan).isDefined,
      s"BPE apply fell out of codegen:\n$plan")
  }

  test("q_interval_overlap binning yields a hash join, never a nested loop") {
    // the operator's reason to exist: Spark's native plan for the raw
    // overlap inequality is BroadcastNestedLoopJoin / cartesian; the
    // covered-bin explosion must turn it into an equi-join
    val plan = finalPlan(q("q_interval_overlap"))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"interval overlap degenerated to an unkeyed join:\n$plan")
  }

  test("q_triangle_count joins hash-keyed, never a cartesian form") {
    // the scale contract of the degree orientation: the wedge and
    // closure steps are equi-joins on edge endpoints (hash exchanges
    // or broadcasts), NEVER a cartesian/nested-loop form — the
    // O(sqrt(m)) out-degree bound only helps if the join is keyed
    val plan = finalPlan(q("q_triangle_count"))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle count degenerated to an unkeyed join:\n$plan")
    // edge canon + degree agg + deg attach + wedge + closure + vertex
    // agg: a bounded exchange budget, most reused/broadcast at this sf
    assert(shuffles(plan) <= 10,
      s"triangle count grew unexpected exchanges:\n$plan")
  }

  test("q_substring_dedup anchors shuffle hashes, never a cartesian form") {
    val plan = finalPlan(q("q_substring_dedup"))
    assert(!plan.contains("CartesianProduct"),
      s"substring dedup degenerated to a cartesian:\n$plan")
    // anchor agg + mark join + per-doc gather: tuple-sized exchanges
    // only — text rides a join, not an exchange, at this scale
    assert(shuffles(plan) <= 4,
      s"substring dedup grew unexpected exchanges:\n$plan")
  }

  test("q_dedup_incremental_exact: probe is map-side, only the hit branch exchanges") {
    // the scale contract: the Bloom probe runs inside the batch scan's
    // codegen stage, so probe-negative rows (the bulk of a real batch)
    // flow scan → filter → project into the Union with ZERO exchanges;
    // the only exchanges key the probe-POSITIVE residue (index join +
    // per-doc min). A plan where the probe disappeared, or where the
    // miss branch grew an exchange, breaks incremental pricing.
    val plan = finalPlan(q("q_dedup_incremental_exact"))
    assert(plan.contains("bloom_might_contain"),
      s"Bloom probe not in the physical plan:\n$plan")
    // the miss branch renders as a codegen stage whose Filter carries
    // the negated probe directly over the scan
    assert("""\*\(\d+\) Filter .*NOT coalesce\(bloom_might_contain""".r
      .findFirstIn(plan).isDefined,
      s"probe-negative filter not fused over the batch scan:\n$plan")
    assert(shuffles(plan) <= 2,
      s"expected ≤2 Exchanges (hit-branch join/min only), " +
        s"got ${shuffles(plan)}:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_clean_load_wide on a dup-free input collapses to a bare scan") {
    // sf0.01 documents have no duplicated rows, so AQE sees the EMPTY
    // duplicated-fingerprint broadcast and erases both joins: the
    // whole wide clean-load executes as scan+filter, zero exchanges —
    // the dup-present join shape is pinned on planted data in
    // PosOpsSpec
    val plan = finalPlan(q("q_clean_load_wide"))
    assert(shuffles(plan) == 0,
      s"dup-free wide clean-load should be exchange-free:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_lm_score never degenerates to a cartesian form") {
    val plan = finalPlan(q("q_lm_score"))
    assert(!plan.contains("CartesianProduct"),
      s"LM scoring degenerated to a cartesian:\n$plan")
  }

  test("full deterministicShuffle is ONE range exchange, never a single-partition sort") {
    // the whole-epoch write path (EpochLayoutSpec): a global order at
    // 100 TB must plan as rangepartitioning — each partition sorts
    // independently inside its range — not as a funnel through one
    // partition
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "source")
    val plan = finalPlan(graft.ops.Sampling.deterministicShuffle(
      docs, org.apache.spark.sql.functions.col("doc_id")))
    assert(plan.contains("Exchange rangepartitioning"),
      s"full shuffle lost its range exchange:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"full shuffle funnels through a single partition:\n$plan")
    assert(shuffles(plan) == 1,
      s"full shuffle should be exactly one exchange:\n$plan")
  }

  test("q_corpus_shuffle takes its epoch prefix as distributed top-k") {
    // sort+limit must plan as TakeOrderedAndProject — a global
    // single-partition Sort here would be the 100 TB failure mode
    val plan = finalPlan(q("q_corpus_shuffle"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"epoch-order prefix lost TakeOrderedAndProject:\n$plan")
  }

  test("q_dsir_weights scores as a pure shuffle-free scan") {
    // the bounded bucket→ratio table rides the plan as ONE array
    // literal and each document folds its own grams sequentially —
    // scoring must carry no Exchange, no join, no explode at all
    val plan = finalPlan(q("q_dsir_weights"))
    assert(shuffles(plan) == 0,
      s"DSIR scoring gained a shuffle:\n$plan")
    assert(!plan.contains("Join"), s"join crept into DSIR scoring:\n$plan")
    assert(!plan.contains("Generate"),
      s"gram explode reappeared in DSIR scoring:\n$plan")
  }

  test("q_dsir_select draws its Gumbel-top-k as distributed top-k") {
    // importance resampling must plan as TakeOrderedAndProject over
    // the perturbed keys — a global single-partition Sort would be
    // the 100 TB failure mode
    val plan = finalPlan(q("q_dsir_select"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"Gumbel-top-k lost TakeOrderedAndProject:\n$plan")
  }

  test("q_funnel chains user-keyed min-aggregates — no window, no cartesian") {
    // every stage is filter → user join → min agg; a per-user window
    // sort or a cartesian would be the scale failure modes
    val plan = finalPlan(q("q_funnel"))
    assert(!plan.contains("Window"),
      s"window crept into the funnel:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the funnel:\n$plan")
  }

  test("q_heavy_hitters merges sketch states, broadcast into the top-10") {
    val plan = finalPlan(q("q_heavy_hitters"))
    assert(plan.contains("ObjectHashAggregate"),
      s"sketch aggregate missing:\n$plan")
    // exact top-10 must plan as distributed top-k, not a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 lost TakeOrderedAndProject:\n$plan")
  }

  test("q_group_sample draws per-stratum counts heap-bounded, no window") {
    // the exact-count sample must run on the bounded-heap collect
    // aggregate — a per-stratum window row_number would sort every
    // row of every stratum through one task each
    val plan = finalPlan(q("q_group_sample"))
    assert(plan.contains("ObjectHashAggregate"),
      s"bounded-heap aggregate missing:\n$plan")
    assert(!plan.contains("Window"),
      s"window sort crept into the per-stratum sample:\n$plan")
  }

  test("q_doc_normalize cleans shuffle-free in one codegen span") {
    val plan = finalPlan(q("q_doc_normalize"))
    assert(shuffles(plan) == 0,
      s"text cleanup gained a shuffle:\n$plan")
    // the executed-plan tree marks WholeStageCodegen stages "*(n)"
    assert(plan.contains("*(1) Project"),
      s"nfc_normalize fell out of codegen:\n$plan")
  }

  test("q_pca_project projects shuffle-free over literal components") {
    // the corpus-side cost of PCA scoring is a map pass: the moment
    // pass happens once at fit (bounded collects), the projection
    // plan itself must carry no Exchange at all
    val plan = finalPlan(q("q_pca_project"))
    assert(shuffles(plan) == 0,
      s"PCA projection gained a shuffle:\n$plan")
  }

  test("q_kmeans_assign assigns shuffle-free over literal centroids") {
    val plan = finalPlan(q("q_kmeans_assign"))
    assert(shuffles(plan) == 0,
      s"k-means assignment gained a shuffle:\n$plan")
  }

  test("q_domain_mix applies solved rates as a join-free scan filter") {
    // the solver collects ≤|targets| counts up front; the applied
    // sample must then be a literal CASE filter + ONE aggregation
    // shuffle — never a join of the corpus against a rates table
    val plan = finalPlan(q("q_domain_mix"))
    assert(!plan.contains("Join"),
      s"mixture rates leaked into a join:\n$plan")
    assert(shuffles(plan) == 1,
      s"expected exactly 1 Exchange (the mixture groupBy), " +
        s"got ${shuffles(plan)}:\n$plan")
  }

  test("snapshotDiff ships fingerprints, not rows, through its join") {
    // each side reduces to (key, xxhash64) BELOW the exchange — the
    // full-outer join must shuffle ~16 B/row however wide the table
    val plan = formatted(SnapshotDiff.diff(
      spark.read.parquet(s"$dir/orders.parquet"),
      spark.read.parquet(s"$dir/orders.parquet"), "o_orderkey"))
    assert(plan.contains("xxhash64"), s"fingerprint missing:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"))
    // formatted detail sections: every shuffle Exchange must input
    // exactly (key, fingerprint) — 2 columns — never the wide row
    val exchangeArities = """\(\d+\) Exchange\nInput \[(\d+)\]""".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toSeq
    assert(exchangeArities.nonEmpty && exchangeArities.forall(_ == 2),
      s"wide columns crossed an exchange ($exchangeArities):\n$plan")
  }

  test("q_scd2_merge stays join-shaped (no cartesian), bounded exchanges") {
    val plan = finalPlan(q("q_scd2_merge"))
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"SCD2 degenerated to a cartesian form:\n$plan")
    assert(shuffles(plan) <= 6,
      s"SCD2 exchange budget blown (${shuffles(plan)}):\n$plan")
  }

  test("sketch aggregates combine map-side (ObjectHashAggregate partials)") {
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass before the exchange: one sketch per (group ×
    // partition) crosses the wire, not one row per input
    for (name <- Seq("q_kll_quantiles", "q_theta_retention")) {
      val plan = formatted(q(name))
      assert(plan.contains("ObjectHashAggregate"),
        s"$name lost the object-hash partial pass:\n$plan")
    }
  }

  test("q_copurchase pairs entirely JOIN-FREE (heap collect + map-side expand)") {
    // the guarded market-basket pipeline replaced the per-basket
    // self-join with a bounded-heap collect and a higher-order
    // transform: the pair-generation plan must carry NO join operator
    // of any kind and no Window — pair volume is bounded by
    // construction, not by data luck. coPurchasePairs now checkpoints
    // its output (so the FINAL plan is just the checkpoint scan —
    // asserted too); the shape claim pins the lazy generator the
    // checkpoint materializes
    val li = graft.ops.Basket.pairDomain(
      Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
    val gen = graft.ops.Basket.pairsOverDomain(li, 3L, 1024)
    val plan = finalPlan(gen)
    li.unpersist()
    assert(!plan.contains("Join") && !plan.contains("Cartesian"),
      s"a join reappeared in the basket pipeline:\n$plan")
    assert(!plan.contains("Window"),
      s"window crept into the basket pipeline:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"bounded-heap basket collect missing:\n$plan")
    val fin = finalPlan(q("q_copurchase"))
    assert(!fin.contains("FileScan parquet"),
      s"q_copurchase re-scans parquet past its checkpoint:\n$fin")
  }

  test("q_scd2_asof runs the as-of carry, never an interval nested loop") {
    // the point-in-time lookup is a union + ONE window carry; Spark's
    // native plan for the raw valid_from <= t < valid_to range join
    // would be BroadcastNestedLoop/Cartesian — the 100 TB cliff
    val plan = finalPlan(q("q_scd2_asof"))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"SCD2 as-of lookup degenerated to a nested loop:\n$plan")
    assert("Window".r.findAllMatchIn(plan).length >= 1,
      s"as-of window carry missing:\n$plan")
  }

  test("q_weighted_sample keeps rows with a shuffle-free scan filter") {
    // the keep rule (u48·W < k·w·2^48) literal-folds the total weight
    // into a pure predicate: the sample itself must move zero rows
    // (measured 1.8 KB shuffle at 60 M rows — this pins it structurally)
    val plan = finalPlan(q("q_weighted_sample"))
    assert(shuffles(plan) == 0,
      s"weighted sampling must not shuffle, got ${shuffles(plan)}:\n$plan")
  }

  test("q_knn_sq8 prunes per-partition before the rank exchange") {
    // the corpus joins the broadcast query set and the top-k filter
    // runs as WindowGroupLimit BELOW the exchange: only ~k rows per
    // (query, partition) ever shuffle — the quantized flat scan's
    // scale property (3.4 KB shuffle at 4 M vectors)
    val plan = finalPlan(q("q_knn_sq8"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-partition top-k prune missing:\n$plan")
  }

  test("q_skyline never plans a pairwise dominance form") {
    // the banded two-pass is aggregate+window shaped; the naive
    // NOT EXISTS dominance evaluation would be a nested-loop
    // anti-join — the O(n²) cliff the operator exists to avoid
    Seq("q_skyline", "q_skyline_lineitem").foreach { name =>
      val plan = finalPlan(q(name))
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"$name degenerated to a pairwise dominance plan:\n$plan")
    }
  }

  test("q_attribution and q_twap reuse ONE user-keyed exchange") {
    // window + same-key aggregate: the partitioning must be planned
    // once and reused — a second hash exchange on the same key is
    // wasted data movement at any scale
    Seq("q_attribution" -> 2, "q_twap" -> 2).foreach { case (name, cap) =>
      val plan = finalPlan(q(name))
      assert(shuffles(plan) <= cap,
        s"$name expected <= $cap exchanges, got ${shuffles(plan)}:\n$plan")
      assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
        s"$name degenerated:\n$plan")
    }
  }

  test("q_ewma folds per key through ONE exchange") {
    val plan = finalPlan(q("q_ewma"))
    assert(shuffles(plan) == 1,
      s"EWMA expected exactly 1 exchange, got ${shuffles(plan)}:\n$plan")
  }

  test("q_table_checksum: map-side partials, one single-row exchange") {
    // the checksum is a plain two-phase aggregate: partial sums
    // map-side, then ONE SinglePartition exchange carrying
    // <= parallelism partial rows — any hash/range exchange would
    // mean the per-row hashes left the scan stage unaggregated
    val plan = finalPlan(q("q_table_checksum"))
    assert(shuffles(plan) == 0,
      s"checksum expected no wide exchange, got ${shuffles(plan)}:\n$plan")
    assert(plan.contains("Exchange SinglePartition"),
      s"checksum missing the single final gather:\n$plan")
    assert(plan.contains("partial_"),
      s"checksum aggregate not map-side partial:\n$plan")
    assert(!plan.contains("Sort "), s"checksum plan sorts:\n$plan")
  }

  test("markovTransitions: one user-keyed exchange feeds the " +
    "k^2 aggregate") {
    // journey windows must share the user partitioning (the journey
    // boundary reads lag(j), never re-partitions by (user, journey));
    // the only other exchange is the k^2-row (src, dst) count
    val tr = graft.ops.Attribution.markovTransitions(
      graft.Tables.events(spark, sfDir),
      org.apache.spark.sql.functions.col("user_id"),
      org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_id"),
      org.apache.spark.sql.functions.col("event_type"),
      Seq("click", "view", "signup"), "purchase")
    val plan = finalPlan(tr)
    assert(shuffles(plan) <= 2,
      s"transitions expected <= 2 exchanges, got ${shuffles(plan)}:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"transitions degenerated:\n$plan")
  }

  /** Wide exchanges counted as DISTINCT physical operators: the plan
    * string repeats an exchange's text inside ReusedExchange lines and
    * a cached child's appended Initial Plan section, so a raw regex
    * count overstates — dedup on plan_id.
    */
  private def distinctWideExchanges(plan: String): Set[String] =
    "Exchange (?:hash|range)partitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet

  test("globalRowNumber ranks through ONE full-data exchange") {
    // the ranking contract (Stats.scala): one range exchange, sort
    // WITHIN partitions, record counter from mid()'s lower 33 bits —
    // a Window.partitionBy(spark_partition_id()) regression would
    // reintroduce a second full-data hash exchange on _pid
    import org.apache.spark.sql.functions.{col, round}
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val (ranked, release) = graft.ops.Stats.globalRowNumber(
      li, Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
      "rn")
    try {
      ranked.collect()
      val plan = ranked.queryExecution.executedPlan.toString
      // the cached child plan prints the same exchange under several
      // plan_ids (final + appended initial sections), so assert the
      // KIND set instead of a count: the range partition exists and
      // NO hash exchange of any sort does — in particular not the
      // _pid re-shuffle the Window form used to plan
      assert(plan.contains("Exchange rangepartitioning"),
        s"ranking exchange is not the range partition:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"ranking plans a second full-data hash exchange:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"ranking collapsed to a single partition:\n$plan")
    } finally release()
  }

  test("q_weighted_quantiles: no window partition exceeds the band") {
    // the banded two-pass contract (VERDICT r10 #1): the cumulative
    // window over VALUES must partition by (group, pct) and sit above
    // the boundary-band broadcast join — each partition is one
    // percentile's boundary band, ≤ ceil(range/bands) distinct values
    // no matter how few groups there are. Partitioned-by-group alone
    // IS single-task when #groups is small (the r10 pin's mistake).
    val plan = finalPlan(q("q_weighted_quantiles"))
    assert("windowspecdefinition\\(g#\\d+, pct#\\d+, v#\\d+L ASC".r
        .findFirstIn(plan).isDefined,
      s"value window not partitioned by (group, pct):\n$plan")
    assert("windowspecdefinition\\(g#\\d+, v#\\d+L ASC".r
        .findFirstIn(plan).isEmpty,
      s"a per-group window still sees the full value domain:\n$plan")
    assert("BroadcastHashJoin \\[g#\\d+, band#\\d+L\\]".r
        .findFirstIn(plan).isDefined,
      s"boundary-band broadcast join missing below the window:\n$plan")
    // the band table's own cumulative pass: per group over BAND ids —
    // bounded at `bands` rows per partition by construction
    assert("windowspecdefinition\\(g#\\d+, band#\\d+L ASC".r
        .findFirstIn(plan).isDefined,
      s"band-offset window not over the bounded band table:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"quantile window collapsed to a single partition:\n$plan")
    assert(plan.contains("partial_sum"),
      s"weight pre-aggregation not map-side partial:\n$plan")
    // the value-domain agg is the ONLY fact-scale exchange; every
    // other consumer of it must reuse, not recompute
    assert(plan.contains("ReusedExchange"),
      s"(g,v) domain exchange recomputed instead of reused:\n$plan")
  }

  test("q_mad_outliers / q_pareto_share scan the fact table ONCE") {
    // both operators checkpoint the (group, value) domain at
    // construction, so the executed plan must run entirely over the
    // materialized RDD — a parquet scan reappearing here means the
    // one-fact-exchange claim silently became N scans
    for (name <- Seq("q_mad_outliers", "q_pareto_share")) {
      val plan = finalPlan(q(name))
      assert(!plan.contains("FileScan parquet"),
        s"$name re-scans parquet after the domain checkpoint:\n$plan")
      assert(plan.contains("Scan ExistingRDD"),
        s"$name does not run over the checkpointed domain:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name collapsed to a single partition:\n$plan")
    }
  }

  test("q_oov_rate: bounded vocab broadcasts; token rows never shuffle") {
    val plan = finalPlan(q("q_oov_rate"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab top-k planned as a global sort:\n$plan")
    assert("BroadcastHashJoin \\[token".r.findFirstIn(plan).isDefined,
      s"vocab not attached to the token stream by broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"per-doc aggregation not map-side partial:\n$plan")
    // the only hash exchanges carry vocab partials and doc-level
    // partials — nothing token-keyed except the bounded vocab count
    assert(!plan.contains("Exchange SinglePartition"),
      s"oov plan collapsed to a single partition:\n$plan")
  }

  test("q_source_overlap: self-join over the checkpointed vocabulary") {
    val plan = finalPlan(q("q_source_overlap"))
    assert(!plan.contains("FileScan parquet"),
      s"overlap re-tokenizes parquet after the checkpoint:\n$plan")
    // the pairwise intersection must be an equi-join on token (per-
    // token fan-out bounded by #slices²), never a nested-loop pass
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[token".r
        .findFirstIn(plan).isDefined,
      s"token intersection is not an equi-join:\n$plan")
  }

  test("q_chi_square / q_mutual_info: bounded-cell work after one agg") {
    for (name <- Seq("q_chi_square", "q_mutual_info")) {
      val plan = finalPlan(q(name))
      assert(!plan.contains("FileScan parquet"),
        s"$name re-scans parquet after the cell checkpoint:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"$name margins not attached by broadcast:\n$plan")
    }
  }

  test("q_audio_features: one spread exchange of bare ids, then 1→1") {
    // the ONLY exchange is Multimodal.spreadIds' id repartition (the
    // single-split fixture serializes the clip loop without it —
    // r12); synth and decode themselves stay 1→1 map work, so the
    // exchange moves 8 bytes per clip, never payload bytes
    val plan = finalPlan(q("q_audio_features"))
    assert(shuffles(plan) == 1,
      s"audio pipeline expected exactly the id-spread exchange, " +
        s"got ${shuffles(plan)}:\n$plan")
  }

  test("q_doc_keywords ranks through the bounded heap, never a window") {
    // top-3 terms per doc must plan as the collectTopK aggregate
    // (≤ k-row state per doc through the exchange) — a row_number
    // window here would sort every doc's full term list
    val plan = finalPlan(q("q_doc_keywords"))
    assert(!plan.contains("Window"),
      s"keyword ranking planned as a window sort:\n$plan")
    assert(plan.toLowerCase.contains("collect_top_k"),
      s"bounded-heap aggregate missing:\n$plan")
  }

  test("q_seasonal_naive reduces to the calendar before the self-join") {
    // the daily series is checkpointed at construction, so the d−7
    // join and the error aggregate run entirely over day-cardinality
    // RDD rows — a parquet scan here means the fact table is being
    // read twice for a calendar-bounded evaluation
    val plan = finalPlan(q("q_seasonal_naive"))
    assert(!plan.contains("FileScan parquet"),
      s"seasonal-naive re-scans the fact table:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"seasonal-naive not over the checkpointed series:\n$plan")
  }

  test("q_linreg: one moment exchange; the fit math runs on ≤1-row-per-group") {
    // the whole OLS fit is ONE grouped moment aggregate (map-side
    // partials through a single wide exchange) and bounded-row select
    // arithmetic — no window, no join, no second fact pass
    val plan = finalPlan(q("q_linreg"))
    assert(distinctWideExchanges(plan).size == 1,
      s"linreg shuffles more than the moment partials:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"linreg plans a window or join:\n$plan")
  }

  test("q_auc: rank statistic without a global sort of fact rows") {
    // fact rows reduce to the score domain (checkpointed at
    // construction), so the cumulative window and final aggregate
    // read ONLY bounded domain rows — a FileScan here means the AUC
    // is sorting/scanning the corpus instead of the domain
    val plan = finalPlan(q("q_auc"))
    assert(!plan.contains("FileScan parquet"),
      s"AUC re-scans the fact table past the domain checkpoint:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"AUC not over the checkpointed score domain:\n$plan")
  }

  test("q_skipgram_pairs: join-free map-side pair expansion, bounded top-k") {
    // pairs generate from each token array via a higher-order
    // transform (the basket-pair discipline) — no self-join; the
    // top-50 cut is a TakeOrdered, never a global sort
    val plan = finalPlan(q("q_skipgram_pairs"))
    assert(!plan.contains("Join") && !plan.contains("Cartesian"),
      s"skip-gram pairs reintroduced a join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 not a bounded TakeOrdered:\n$plan")
  }

  test("q_zipf_fit: the OLS sees only the checkpointed top-100 ranks") {
    val plan = finalPlan(q("q_zipf_fit"))
    assert(!plan.contains("FileScan parquet"),
      s"zipf fit re-scans the corpus past the top-k checkpoint:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"zipf fit not over the checkpointed rank table:\n$plan")
  }

  test("q_hhi: two grouped aggregates, zero joins") {
    val plan = finalPlan(q("q_hhi"))
    assert(!plan.contains("Join"),
      s"HHI plans a join where a re-aggregate suffices:\n$plan")
    assert(distinctWideExchanges(plan).size <= 2,
      s"HHI shuffles more than (day,prio) → day partials:\n$plan")
  }

  test("q_feature_hash: one hash-agg exchange, no vocabulary state") {
    val plan = finalPlan(q("q_feature_hash"))
    assert(distinctWideExchanges(plan).size == 1,
      s"feature hashing shuffles more than the (doc,bucket) agg:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"feature hashing plans vocabulary-style state:\n$plan")
  }

  test("q_feature_scale: moments broadcast; the fact never shuffles") {
    // one wide exchange (the per-group moment partials); z itself is
    // a map-side expression over the scan behind a broadcast join
    val plan = finalPlan(q("q_feature_scale"))
    assert(distinctWideExchanges(plan).size == 1,
      s"feature-scale shuffles more than the moment partials:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"moments not attached by broadcast:\n$plan")
  }

  test("q_temporal_split: banded cutoff, split counted in one agg") {
    val plan = finalPlan(q("q_temporal_split"))
    // the event-micros domain exchange is reused by the quantile's
    // consumers; the cutoff attaches by broadcast
    assert(plan.contains("ReusedExchange"),
      s"event-time domain exchange recomputed:\n$plan")
    assert("windowspecdefinition\\(g#\\d+, v#\\d+L ASC".r
        .findFirstIn(plan).isEmpty,
      s"a per-group window sees the full time domain:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin")
        || plan.contains("BroadcastHashJoin"),
      s"cutoff not attached by broadcast:\n$plan")
  }

  test("q_benford moves only digit partials, never fact rows") {
    // one hash exchange keyed on the 9-value digit histogram; the
    // total attaches by broadcast — the order scan itself never
    // shuffles, and there is nothing to sort
    val plan = finalPlan(q("q_benford"))
    assert(distinctWideExchanges(plan).size == 1
        && plan.contains("hashpartitioning(digit"),
      s"benford expected one digit-keyed exchange:\n$plan")
    assert(plan.contains("partial_count"),
      s"digit histogram not map-side partial:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"total not attached by broadcast:\n$plan")
    assert(!plan.contains("Sort "), s"benford plan sorts:\n$plan")
  }

  test("q_target_encode: group state broadcast, fact rows never " +
    "wide-exchange") {
    // the LOO encoding's only wide exchange is the #segments-row
    // aggregate's partials; the fact side takes both the dimension
    // and the encoded state by broadcast
    val plan = finalPlan(q("q_target_encode"))
    assert(distinctWideExchanges(plan).size <= 1,
      s"target-encode fact rows shuffled:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"target-encode state not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"target-encode degenerated to a sort-merge join:\n$plan")
  }

  test("q_quantile_bin: thresholds from the value domain, attached " +
    "by broadcast") {
    // the threshold pass is the BANDED quantile machinery (see the
    // q_weighted_quantiles pin): the only fact-scale exchange is the
    // (g,v) domain agg — reused by every other consumer — and no
    // window ordered by value may see a whole group's domain; the
    // bin assignment itself is a broadcast join + codegen ladder
    // over the fact scan
    val plan = finalPlan(q("q_quantile_bin"))
    assert(plan.contains("ReusedExchange"),
      s"(g,v) domain exchange recomputed instead of reused:\n$plan")
    assert("windowspecdefinition\\(g#\\d+, v#\\d+L ASC".r
        .findFirstIn(plan).isEmpty,
      s"a per-group window still sees the full value domain:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"quantile-bin thresholds not broadcast:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"quantile-bin collapsed to a single partition:\n$plan")
  }

  test("q_kaplan_meier reduces subjects to durations BEFORE the " +
    "sequential pass") {
    // subjects collapse to per-duration counts (map-side partials);
    // the single-partition window only ever sees ≤ #distinct-times
    // rows; the horizon attaches as a 1-row broadcast
    val plan = finalPlan(q("q_kaplan_meier"))
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"KM duration reduction not map-side partial:\n$plan")
    assert(plan.contains("Exchange SinglePartition"),
      s"KM missing the reduced-series gather:\n$plan")
    assert(distinctWideExchanges(plan).size <= 4,
      s"KM exchanges exceed the subject-reduction budget:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"KM degenerated to a cartesian:\n$plan")
  }

  test("q_acf and q_cusum reduce to the calendar BEFORE the " +
    "sequential pass") {
    // the reduced-series contract (ops/Stats): the fact table
    // aggregates map-side through ONE day-keyed hash exchange; the
    // single-partition window only ever sees the ≤ #days series
    Seq("q_acf", "q_cusum").foreach { name =>
      val plan = finalPlan(q(name))
      assert(shuffles(plan) == 1,
        s"$name expected exactly 1 day-keyed exchange, " +
          s"got ${shuffles(plan)}:\n$plan")
      assert(plan.contains("partial_sum"),
        s"$name daily reduction not map-side partial:\n$plan")
      assert(plan.contains("Exchange SinglePartition"),
        s"$name missing the reduced-series gather:\n$plan")
    }
  }
}
