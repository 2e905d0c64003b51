package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank fusion across retrieval systems — the hybrid-search join of a
  * RAG stack: lexical (BM25) and dense (ANN) retrievers each produce
  * a per-query ranking, and Reciprocal Rank Fusion (Cormack, Clarke &
  * Büttcher, SIGIR'09) combines them on RANKS alone:
  * `score(d) = Σ_systems 1 / (k + rank_s(d))`, conventionally k=60.
  * Fusing ranks rather than scores is the point — BM25 log-weights
  * and cosine similarities are not commensurable, ranks always are.
  *
  * Engine-exactness: each reciprocal contribution is snapped to the
  * 9-dp lattice (one correctly-rounded IEEE division + one decimal
  * round — identical on any engine) and summed as exact DECIMAL, so
  * the fused ordering and the emitted score are layout- and
  * engine-independent; q_hybrid_search is hash-checked against a
  * DuckDB replay of both input rankings AND the fusion.
  *
  * Scale: the inputs are top-k rankings — ≤ k rows per query per
  * system by contract — so fusion costs one union + one (qid, id)
  * aggregation over k·|systems| rows per query and a bounded-heap
  * top-k ([[TopK.topKPerGroup]]: ≤ topK-row state per query through
  * the exchange). The expensive work lives in the upstream
  * retrievers, which carry their own scale paths (bucketed postings
  * for BM25, IVF/LSH for dense).
  */
object Fusion {

  /** Fuse per-query rankings by RRF.
    *
    * @param rankings one DataFrame per retrieval system, each with
    *                 columns (`qidCol`, `idCol`, `rankCol`) — ranks
    *                 1-based, ≤ some per-system top-k
    * @param rrfK     the RRF damping constant (60 in the paper)
    * @param topK     fused results kept per query
    * @return (qid, rank, id, rrf_score, n_systems): `rank` 1-based by
    *         (exact fused score desc, id asc); `n_systems` = how many
    *         input rankings contained the id
    */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      qidCol: String, idCol: String, rankCol: String,
      rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(rrfK >= 0, s"rrfK must be >= 0, got $rrfK")
    require(topK > 0, s"topK must be positive, got $topK")
    rankings.foreach { r =>
      // the (score desc, id asc) tie-break rides the bounded heap as
      // a negated id — a string id would fail analysis later with a
      // worse message
      require(r.schema(idCol).dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"idCol '$idCol' must be numeric (tie-break negation), got " +
          r.schema(idCol).dataType.simpleString)
    }
    val contribs = rankings.map(_.select(
      col(qidCol).as("qid"), col(idCol).as("id"),
      // one IEEE division (both engines correctly round it) snapped
      // to the 9-dp lattice, then EXACT decimal accumulation — the
      // round-then-cast discipline, so fold order cannot leak
      round(lit(1.0) / (lit(rrfK.toDouble) + col(rankCol).cast("double")), 9)
        .cast("decimal(18,9)").as("c")))
    val fused = contribs.reduce(_.unionAll(_))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("c")).cast("decimal(18,9)").as("s"),
        count(lit(1)).as("n_systems"))
      // the EMITTED score is the 9-dp-rounded double (a raw DECIMAL
      // output column is the r8 reader-asymmetry red class); ranking
      // below stays on the exact decimal
      .withColumn("rrf_score", round(col("s").cast("double"), 9))
    TopK.topKPerGroup(
        fused.withColumn("neg_id", -col("id")),
        Seq("qid"),
        struct(col("s"), col("neg_id"), col("id"), col("rrf_score"),
          col("n_systems")),
        topK, largest = true)
      .select(col("qid"), col("rank"), col("id"), col("rrf_score"),
        col("n_systems"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversification stage after retrieval+fusion:
    * greedily select `k` results per query, each round picking the
    * candidate maximizing
    * `λ·rel − (1−λ)·max_{s ∈ selected} sim(cand, s)` — relevance
    * traded against redundancy with what is already chosen.
    *
    * Engine-exactness: candidate-pair cosines snap to the 4-dp
    * lattice (the KNN discipline), the MMR expression is one fixed
    * sequence of correctly-rounded IEEE ops over lattice inputs
    * rounded to 9 dp (the abTest precedent), and every argmax breaks
    * ties on (score desc, id asc) — so all `k` unrolled selection
    * rounds replay in DuckDB to hash equality (OracleMmr).
    *
    * Scale: candidates are a bounded top-k per query BY CONTRACT
    * (the output of [[reciprocalRankFusion]] or any retriever), so
    * the pairwise sim table is ≤ topK² rows per query and each of
    * the `k` rounds is one join + one bounded-heap argmax — all
    * distributed per query, nothing driver-side, no dependence on
    * corpus size. Every round CUTS its lineage with `localCheckpoint`
    * (the pageRankInt discipline): round r references round r−1 three
    * times (remaining + max-sim + union), so an uncut logical plan —
    * even a fully persisted one — grows 3^k references to the
    * candidate source and drowns the ANALYZER long before execution
    * (measured: 60 s of pure planning at k=5 over 30 rows).
    *
    * @param candidates (qid, id, rel) — rel on the 9-dp lattice
    * @param vectors    (id, vector) — zero-norm/missing vectors
    *                   contribute similarity 0 (never NaN)
    * @param lambda     relevance weight in [0, 1]
    * @param k          results per query
    * @return (qid, rank, id, mmr_score) — mmr_score is the value at
    *         selection time (round 1: λ·rel)
    */
  def mmrRerank(
      candidates: DataFrame,
      vectors: DataFrame,
      lambda: Double = 0.7, k: Int = 5): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0,1], got $lambda")
    require(k > 0, s"k must be positive, got $k")
    require(candidates.schema("id").dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      "candidate id must be numeric (tie-break negation), got " +
        candidates.schema("id").dataType.simpleString)
    import graft.similarity.Knn.{dot, norm}
    val mu = 1.0 - lambda // the exact IEEE complement — mirrored by
    // the oracle, which inlines THIS double, not a re-typed "0.3"
    val (cand, releaseCand) = Graph.cutWithHandle(candidates
      .select(col("qid"), col("id"), col("rel").cast("double").as("rel")))
    val v = vectors
      .select(col("id"), col("vector").cast("array<double>").as("v"))
      .withColumn("n", norm(col("v"))).filter(col("n") > 0)
    val simRaw = cand.select(col("qid"), col("id").as("i"))
      .join(cand.select(col("qid"), col("id").as("j")), Seq("qid"))
      .filter(col("i") =!= col("j"))
      .join(v.select(col("id").as("i"), col("v").as("vi"),
        col("n").as("ni")), Seq("i"))
      .join(v.select(col("id").as("j"), col("v").as("vj"),
        col("n").as("nj")), Seq("j"))
      .select(col("qid"), col("i"), col("j"),
        round(dot(col("vi"), col("vj")) / (col("ni") * col("nj")), 4)
          .as("s"))
    val (sim, releaseSim) = Graph.cutWithHandle(simRaw)
    // round 1: pure relevance argmax
    var (sel, releaseSel) = Graph.cutWithHandle(TopK.topKPerGroup(
        cand.withColumn("neg_id", -col("id")),
        Seq("qid"), struct(col("rel"), col("neg_id"), col("id")),
        1, largest = true)
      .select(col("qid"), col("id"),
        round(lit(lambda) * col("rel"), 9).as("mmr_score"))
      .withColumn("rank", lit(1)))
    // superseded per-round cuts release their pinned blocks (the
    // Graph.cutWithHandle discipline, history/ADVICE.md): the final
    // sel cut stays live — the returned frame reads it — but rounds
    // 1..k−1's cuts, and cand/sim after the last round, are dead the
    // moment the next round (resp. the final sel) is materialized
    var r = 2
    while (r <= k) {
      val remaining = cand.join(sel.select(col("qid"), col("id")),
        Seq("qid", "id"), "left_anti")
      val maxSim = sim
        .join(sel.select(col("qid"), col("id").as("j")), Seq("qid", "j"))
        .groupBy(col("qid"), col("i")).agg(max(col("s")).as("ms"))
        .withColumnRenamed("i", "id")
      val scored = remaining.join(maxSim, Seq("qid", "id"), "left")
        .withColumn("mmr", round(
          lit(lambda) * col("rel") -
            lit(mu) * coalesce(col("ms"), lit(0.0)), 9))
      val winner = TopK.topKPerGroup(
          scored.withColumn("neg_id", -col("id")),
          Seq("qid"), struct(col("mmr"), col("neg_id"), col("id")),
          1, largest = true)
        .select(col("qid"), col("id"), col("mmr").as("mmr_score"))
        .withColumn("rank", lit(r))
      val (cp, rel) = Graph.cutWithHandle(sel.unionByName(winner))
      sel = cp
      releaseSel()
      releaseSel = rel
      r += 1
    }
    // the final sel cut is a self-contained leaf: the loop inputs'
    // pinned blocks are dead now
    releaseCand()
    releaseSim()
    sel.select(col("qid"), col("rank"), col("id"), col("mmr_score"))
  }
}
