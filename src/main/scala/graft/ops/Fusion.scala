package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

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
    * The greedy is sequential per query, so it runs as one pass: the
    * candidates, left-joined to their vectors, are gathered into one
    * group per `qid` (one exchange), and the executor runs the `k`
    * rounds over the group: take the argmax, then fold the winner's
    * cosine into each remaining candidate's running max similarity.
    * Building the frame launches no job and pins nothing.
    *
    * Engine-exactness: a cosine is the [[graft.similarity.Knn.dot]]
    * fold over the two norms snapped to the 4-dp lattice (the KNN
    * discipline), the MMR expression is one fixed sequence of
    * correctly-rounded IEEE ops rounded to 9 dp (the abTest
    * precedent), each rounding is Spark's `round` of a double
    * (`BigDecimal.valueOf(x).setScale(s, HALF_UP)`), round 1 ranks on
    * raw `rel`, and every argmax breaks ties on (score desc, id asc)
    * — so all `k` rounds replay in DuckDB to hash equality (OracleMmr).
    *
    * Scale: candidates are a bounded top-N per query BY CONTRACT (the
    * output of [[reciprocalRankFusion]] or any retriever), so a
    * query's group holds N candidates and their vectors: O(N·d)
    * memory and O(k·N·d) work in one task, nothing driver-side.
    *
    * @param candidates (qid, id, rel) — unique per (qid, id), as RRF
    *                   emits them; id numeric and non-null, rel on
    *                   the 9-dp lattice
    * @param vectors    (id, vector), unique per id — a missing or
    *                   zero-norm vector has no similarity to anything:
    *                   such a candidate's max similarity stays 0, and
    *                   once selected it adds nothing to the others' max
    * @param lambda     relevance weight in [0, 1]
    * @param k          results per query (all candidates when fewer)
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
      "candidate id must be numeric (tie-break order), got " +
        candidates.schema("id").dataType.simpleString)
    val mu = 1.0 - lambda // the exact IEEE complement — mirrored by
    // the oracle, which inlines THIS double, not a re-typed "0.3"
    def sparkRound(x: Double, scale: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue
    val v = vectors
      .select(col("id"), col("vector").cast("array<double>").as("v"))
      .withColumn("n", graft.similarity.Knn.norm(col("v")))
      .filter(col("n") > 0)
    val rows = candidates
      .select(col("qid"), col("id"), col("rel").cast("double").as("rel"))
      .join(v, Seq("id"), "left")
      .select(col("qid"), col("id"), col("rel"), col("v"), col("n"))
    val out = StructType(Seq(rows.schema("qid"),
      StructField("rank", IntegerType, nullable = false), rows.schema("id"),
      StructField("mmr_score", DoubleType, nullable = false)))
    rows.groupBy(col("qid"))
      .as[Row, Row](Encoders.row(StructType(Seq(rows.schema("qid")))),
        Encoders.row(rows.schema))
      .flatMapGroups { (key: Row, group: Iterator[Row]) =>
        // id asc, so the scan's strict `>` keeps the smallest id on a tie
        val cs = group.toArray.sortWith((a, b) =>
          a.get(1).asInstanceOf[Comparable[Any]].compareTo(b.get(1)) < 0)
        val rel = cs.map(_.getDouble(2))
        val vec = cs.map(r => if (r.isNullAt(3)) null else r.getSeq[Double](3).toArray)
        // max similarity to the selected rows that have a vector pair
        // with the candidate, 0 while there is none
        val ms = new Array[Double](cs.length)
        val hasMs, taken = new Array[Boolean](cs.length)
        (1 to math.min(k, cs.length)).map { rank =>
          var best = -1
          var bestScore = 0.0
          for (c <- cs.indices if !taken(c)) {
            val s =
              if (rank == 1) rel(c) else sparkRound(lambda * rel(c) - mu * ms(c), 9)
            if (best < 0 || s > bestScore) { best = c; bestScore = s }
          }
          taken(best) = true
          for (c <- cs.indices if !taken(c) && vec(c) != null && vec(best) != null) {
            val (x, y) = (vec(c), vec(best))
            var d = 0.0
            for (i <- 0 until math.min(x.length, y.length)) d += x(i) * y(i)
            val s = sparkRound(d / (cs(c).getDouble(4) * cs(best).getDouble(4)), 4)
            ms(c) = if (hasMs(c)) math.max(ms(c), s) else s
            hasMs(c) = true
          }
          Row(key.get(0), rank, cs(best).get(1),
            if (rank == 1) sparkRound(lambda * rel(best), 9) else bestScore)
        }
      }(Encoders.row(out))
  }
}
