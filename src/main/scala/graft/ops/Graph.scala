package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge DataFrames — the
  * Pregel-without-the-framework companion to
  * [[graft.dedup.Dedup.nearDupClusters]]'s label propagation.
  *
  * PageRank here is the INTEGER-EXACT variant: ranks live as unscaled
  * longs at 10⁻⁹ scale and every step is integer arithmetic —
  * `contrib = rank div outdeg`, `rank' = (15·10⁹) div (100·n) +
  * (85 · Σ contrib) div 100`. Floor division loses ≤ 1 unit (10⁻⁹) of
  * mass per term, which is irrelevant for ranking and buys full
  * determinism: the result is bit-identical on any partitioning, any
  * merge order, and any engine that agrees on integer division — so
  * the DuckDB oracle replays the whole iteration to hash equality,
  * which a float PageRank (FP sum order + last-ulp division drift)
  * could never promise. The standard float formulation is a trivial
  * cast away; the exactness discipline is the point (same policy as
  * KMeans/Pca/QualityModel).
  *
  * Scale: per iteration ONE join of the rank table to the edge list
  * (both hash-partitioned on src — the partitioning is reused across
  * iterations) and one dst-keyed sum of long contributions with
  * map-side combine. State is one long per node; the edge list is
  * scanned once per iteration and never mutated. Dangling nodes
  * (no out-edges) keep their base rank and simply leak their damped
  * mass, the common simplification — document or pre-filter if the
  * graph has them.
  */
object Graph {

  /** Eager `localCheckpoint` plus a release handle for its pinned
    * blocks. A local checkpoint truncates lineage, so its blocks stay
    * in executor storage until the RDD is GC'd — one leaked frame per
    * cut (history/ADVICE.md), and in the iterative loops here one
    * leaked frame PER ROUND, which compounds across a long-lived
    * session (r17, history/kcore_probe_10x.json: the per-round-cut
    * peel degraded from 4.8 s to 15.4-15.8 s across three samples in
    * one JVM as dead cuts piled up). The handle releases the blocks
    * explicitly; calling it is safe exactly when nothing will read the
    * frame again — a released local checkpoint cannot be recomputed
    * by design, so the discipline is strictly
    * release-after-supersession.
    */
  private[ops] def cutWithHandle(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint()
    val release: () => Unit = cp.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        () => { lr.rdd.unpersist(false); () }
      case _ => () => ()
    }
    (cp, release)
  }

  /** Integer-exact PageRank (the scheme in the object doc).
    *
    * Two paths, one result. The edge list is cut once; ONE
    * `limit(driverMaxEdges + 1)` collect of the cut
    * ([[DriverLocal.collect]]) decides the path. A graph of at most
    * `driverMaxEdges` edges iterates on the driver over dense arrays
    * and returns a local frame (no job per iteration, no pin). A
    * larger one runs the distributed loop below, which is how
    * `driverMaxEdges = 0` forces it. The driver path is bit-identical
    * to the distributed one by construction: every step is the same
    * integer arithmetic (`rank div deg`, a long sum per node,
    * `base + 85·Σ div 100`) and integer sums do not depend on order.
    * It also keeps the distributed joins' edge cases: a null endpoint
    * is ONE node (the node set is a `distinct`, which keeps one null),
    * a null-src edge contributes nothing (the join on src drops it)
    * while still counting toward n, a null-dst edge still counts in
    * its src's out-degree and feeds the null node, parallel edges
    * count once each, and dangling nodes keep only base plus inflow.
    *
    * @param edges  (src, dst) long columns; parallel edges count once
    *               each (pre-`distinct` if that is not intended)
    * @param iters  fixed iteration count (deterministic by contract —
    *               no convergence probe)
    * @param driverMaxEdges  bound of the driver path; 0 forces the
    *               distributed path. Lower than nearDupClusters' 1M
    *               pairs because an edge list is routinely data-scale
    *               and an overflowing probe ships `driverMaxEdges + 1`
    *               rows for nothing: with a 1M bound, q_pagerank's
    *               1.17M-edge sf0.1 graph paid about 0.7 s on a 3.3 s
    *               query (4 cores)
    * @return (node, rank) — rank is the unscaled 10⁻⁹-scale long; an
    *         empty edge list gives an empty frame
    */
  def pageRankInt(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      iters: Int,
      checkEvery: Int = 4,
      driverMaxEdges: Long = 100000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    // the edge list feeds TWO independent jobs before the loop (the
    // node-set distinct and the out-degree fold) — materialize it once
    // or the caller's whole edge-DERIVATION subtree (a join+distinct
    // for the trade graph) executes per job (r16; the triangleCounts
    // discipline); the driver-path probe reads the same cut
    val (e, releaseE) = cutWithHandle(
      edges.select(srcCol.cast("long").as("src"),
        dstCol.cast("long").as("dst")))
    val spark = e.sparkSession
    val probe = DriverLocal.collect(e, driverMaxEdges)
    if (probe.isDefined) {
      releaseE()
      return rankFrame(spark, pageRankLocal(probe.get, iters))
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().persist()
    val n = nodes.count()
    if (n == 0) {
      nodes.unpersist()
      releaseE()
      return rankFrame(spark, Seq.empty)
    }
    // out-degree folds into the edge list ONCE — each iteration then
    // pays exactly TWO exchanges: the rank table keyed to the edges'
    // src, and the node-keyed contribution sum (the zero row per node
    // rides the SAME aggregate, replacing a third left-join exchange)
    val eDeg = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .persist()
    // materialize the cache NOW: the loop body is lazy (localCheckpoint
    // fires only every checkEvery steps), so without an action here the
    // unpersist below would drop an empty cache and every iteration's
    // plan branch would rebuild the join at evaluation time
    eDeg.count()
    val base = (15L * 1000000000L) / (100L * n)
    val zeros = nodes.select(col("node"), lit(0L).as("c"))
    var ranks = nodes.withColumn("rank", lit(1000000000L / n))
    var releaseRanks: () => Unit = () => ()
    var it = 0
    while (it < iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
      ranks = contrib.unionByName(zeros)
        .groupBy(col("node")).agg(sum(col("c")).as("cs"))
        .select(col("node"),
          (lit(base) + expr("85 * cs div 100")).as("rank"))
      it += 1
      // amortized lineage truncation (the nearDupClusters span
      // discipline): checkpointing EVERY iteration materializes a job
      // per step; a short span chains lazily and pays one cut per
      // checkEvery iterations
      if (it % checkEvery == 0 && it < iters) {
        val (cp, rel) = cutWithHandle(ranks)
        ranks = cp
        // the new cut is materialized (eager), so the previous one is
        // unreachable — release its pinned blocks
        releaseRanks()
        releaseRanks = rel
      }
    }
    // the returned frame must not depend on caches we are about to
    // release — cut it eagerly, then drop the loop-scoped state
    val out = if (iters == 0) ranks else cutWithHandle(ranks)._1
    // `out` is self-contained now: the loop-scoped cuts (edge list,
    // last intermediate rank cut) are dead — release them instead of
    // pinning one frame per call for the session lifetime
    // (history/ADVICE.md)
    releaseRanks()
    if (iters > 0) releaseE()
    eDeg.unpersist()
    nodes.unpersist()
    out
  }

  /** [[pageRankInt]]'s iterations over collected (src, dst) rows:
    * nodes as dense indices (the null node, when present, last),
    * out-degrees and ranks as long arrays.
    */
  private def pageRankLocal(
      rows: Array[org.apache.spark.sql.Row], iters: Int): Seq[(java.lang.Long, Long)] = {
    val all = new Array[Long](2 * rows.length)
    var k = 0
    var hasNull = false
    rows.foreach(r => (0 to 1).foreach { i =>
      if (r.isNullAt(i)) hasNull = true
      else { all(k) = r.getLong(i); k += 1 }
    })
    java.util.Arrays.sort(all, 0, k)
    var u = 0
    (0 until k).foreach { i =>
      if (u == 0 || all(i) != all(u - 1)) { all(u) = all(i); u += 1 }
    }
    val ids = java.util.Arrays.copyOf(all, u)
    val n = u + (if (hasNull) 1 else 0)
    if (n == 0) return Seq.empty
    def index(r: org.apache.spark.sql.Row, i: Int): Int =
      if (r.isNullAt(i)) ids.length
      else java.util.Arrays.binarySearch(ids, r.getLong(i))
    // edges whose src is null never join the rank table: drop them
    val live = rows.filter(r => !r.isNullAt(0))
    val src = live.map(index(_, 0))
    val dst = live.map(index(_, 1))
    val deg = new Array[Long](n)
    src.foreach(s => deg(s) += 1)
    val base = (15L * 1000000000L) / (100L * n)
    var rank = Array.fill(n)(1000000000L / n)
    for (_ <- 0 until iters) {
      val cs = new Array[Long](n)
      var i = 0
      while (i < src.length) {
        cs(dst(i)) += rank(src(i)) / deg(src(i))
        i += 1
      }
      rank = cs.map(c => base + 85 * c / 100)
    }
    (0 until n).map(i =>
      (if (i < ids.length) java.lang.Long.valueOf(ids(i)) else null) -> rank(i))
  }

  /** A local `(node, rank)` frame with [[pageRankInt]]'s schema. */
  private def rankFrame(
      spark: org.apache.spark.sql.SparkSession,
      ranks: Seq[(java.lang.Long, Long)]): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      java.util.Arrays.asList(ranks.map { case (node, rank) =>
        org.apache.spark.sql.Row(node, rank) }: _*),
      StructType(Seq(StructField("node", LongType),
        StructField("rank", LongType))))
  }

  /** Connected components over an undirected edge list:
    * `(node, component)` where `component` is the smallest node id in
    * the node's component — deterministic on any layout by
    * construction. Delegates to the hybrid engine behind
    * [[graft.dedup.Dedup.nearDupClusters]] (driver union-find when the
    * edge list is bounded, monotone min-label propagation with
    * amortized lineage truncation at scale) — the same operator that
    * collapses near-duplicate document clusters, surfaced under its
    * graph name. Isolated nodes (absent from `edges`) are absent from
    * the output; union them in with `component = node` if needed.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      maxIter: Int = 20): DataFrame = {
    // nearDupClusters expects canonical doc_a < doc_b pairs; self-loops
    // carry no connectivity and drop
    val e = edges.select(srcCol.as("a"), dstCol.as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
      .distinct()
    graft.dedup.Dedup.nearDupClusters(e, maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which
    * every node has degree ≥ k — THE standard density filter before
    * community detection, spam/bot subgraph extraction, and graph
    * feature engineering (a node's "coreness ≥ k" flag). Computed by
    * the textbook peel: repeatedly delete nodes of degree < k until
    * none remain. Peeling is MONOTONE (edges only ever leave), so the
    * fixpoint is unique and layout-independent — the result is exact,
    * deterministic, and all-integer, and the DuckDB oracle replays
    * the same peel unrolled to hash equality.
    *
    * Scale shape: each round is one degree aggregate (map-side
    * combined) plus two semi-joins of the edge list against the
    * surviving-node set — all keyed on node id, no windows, no driver
    * materialization. The convergence probe is an edge COUNT per
    * round (a one-row action; monotonicity makes count-equality a
    * sound fixpoint test — a strict subset cannot have equal size).
    * Rounds are data-bounded, not fixed: real graphs peel in
    * O(log n)-ish rounds; `maxIter` caps the pathological chain graph
    * (which peels one layer per round). Lineage is cut with
    * localCheckpoint every round — without it the analyzer walks a
    * plan that doubles per round. Unlike pageRankInt's lazy span, the
    * peel's convergence probe is a count() EVERY round, so an
    * unmaterialized round would be re-executed by every later count
    * until the next cut (a 3-round span ran rounds 1..3 three, two
    * and one times; at 10× r17 measured a 22.1 s median for one cut
    * per round against 87.0 s for the 3-round span,
    * history/OPTIMIZATION_r17.md §2.4).
    *
    * @return (node, degree) for every node of the k-core, with its
    *         degree WITHIN the core (≥ k by construction when
    *         converged; if `maxIter` stopped the peel early the
    *         result is the round-`maxIter` superset — detectable by
    *         degrees < k in the output)
    */
  def kCore(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column,
      k: Int,
      maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // count() below must not re-run the upstream; the handle releases
    // each cut's pinned blocks once a newer cut supersedes it (the
    // per-round leak otherwise compounds across a session, see
    // [[cutWithHandle]])
    var (e, releaseE) = cutWithHandle(edges
      .select(least(srcCol, dstCol).as("u"), greatest(srcCol, dstCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    def degrees(ed: DataFrame): DataFrame = ed
      .select(col("u").as("x")).unionAll(ed.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    var n = e.count()
    var it = 0
    var converged = n == 0L
    while (!converged && it < maxIter) {
      val keep = degrees(e).filter(col("d") >= k).select(col("x"))
      val (e2, rel) = cutWithHandle(e
        .join(keep.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      it += 1
      releaseE() // the new cut is materialized; the old one is dead
      releaseE = rel
      val n2 = e2.count()
      converged = n2 == n
      e = e2
      n = n2
    }
    degrees(e).select(col("x").as("node"), col("d").as("degree"))
  }

  /** The [[kCore]] peel unrolled as DuckDB CTE rounds over a
    * caller-supplied edge CTE — the oracle generator (`rounds` must
    * reach the fixpoint on the oracle's data; extra rounds are
    * no-ops, so over-provisioning is safe and cheap).
    */
  def kCoreOracleSql(
      edgeCte: String,
      k: Int,
      rounds: Int,
      nodeAlias: String = "node"): String = {
    // AS MATERIALIZED: each round references the previous THREE times,
    // so default CTE inlining would expand 3^rounds copies of the base
    // scan (observed as fd exhaustion in DuckDB at 12 rounds)
    val peels = (0 until rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT x, count(*) AS d FROM (
            SELECT u AS x FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY 1),
          e${i + 1} AS MATERIALIZED (
            SELECT e$i.u, e$i.v FROM e$i
            JOIN d$i du ON du.x = e$i.u JOIN d$i dv ON dv.x = e$i.v
            WHERE du.d >= $k AND dv.d >= $k)"""
    }.mkString(",\n          ")
    s"""WITH $edgeCte,
          $peels
          SELECT x AS $nodeAlias, d AS degree FROM (
            SELECT x, count(*) AS d FROM (
              SELECT u AS x FROM e$rounds UNION ALL SELECT v FROM e$rounds)
            GROUP BY 1)"""
  }

  /** Per-vertex triangle participation over an undirected edge list:
    * `(node, n_triangles, degree)` for every node in at least one
    * triangle — the local-clustering signal behind co-purchase
    * community density, link-spam heuristics, and graph-feature
    * extraction. All-integer, so the result is layout-exact and the
    * DuckDB oracle replays it to hash equality.
    *
    * Algorithm: degree-ordered edge orientation (compact-forward /
    * node-iterator, Schank & Wagner 2005; Suri & Vassilvitskii's
    * MR-adaptation WWW'11) — orient each undirected edge from the
    * (degree, id)-smaller endpoint to the larger, a strict total
    * order, so the oriented graph is a DAG and triangle {x,y,z} with
    * orientation order a<b<c is found EXACTLY once as wedge a→b→c
    * closed by a→c. The orientation is the scale guarantee: every
    * out-neighborhood is bounded by O(√m) on any graph (arboricity
    * bound), so the wedge join's per-key fan-out — the step that
    * explodes a naive formulation on hub vertices — cannot blow up:
    * a hub of degree 10⁶ has out-degree ≤ √m regardless, because its
    * edges orient INTO it from the (necessarily lower-degree) other
    * endpoints. Three hash joins + two aggregations, all on the edge
    * key space; no driver materialization, no windows.
    *
    * The canonical edge list, the degree table and the oriented DAG
    * are eagerly localCheckpoint-ed: the oriented table feeds THREE
    * join sides and the degree table two, and relying on exchange
    * reuse re-executes the caller's whole edge-DERIVATION subplan
    * once per non-reused reference — benched at ~6x a multi-second
    * co-purchase pair generation for a 3.5k-edge result (the r10
    * "q_triangle_count dominates the suite" line was exactly this,
    * not triangle arithmetic). The checkpoint materializes only the
    * operator's own working set — m edge rows + n degree rows, which
    * any triangle algorithm must touch repeatedly anyway.
    *
    * Self-loops drop (a loop closes no triangle); parallel edges
    * collapse via the canonical `least/greatest` distinct.
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: Column,
      dstCol: Column): DataFrame = {
    val e = edges
      .select(least(srcCol, dstCol).as("u"), greatest(srcCol, dstCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint() // m rows; pair/edge derivation runs ONCE
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // n rows; feeds orientation + final join
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint() // m rows; feeds all three wedge-join sides
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
    val tri = wedges.join(
      o.select(col("a").as("ca"), col("b").as("cb")),
      col("a") === col("ca") && col("c") === col("cb"))
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("x").as("node"), col("d").as("degree")),
        Seq("node"))
  }
}
