package graft

import graft.ops.Fusion

class FusionSpec extends SparkTestBase {
  import spark.implicits._

  test("RRF fuses two rankings with exact hand-computed scores") {
    // system A: 10, 20, 30 — system B: 20, 10, 40.
    // id 10 and 20 both score round(1/61,9)+round(1/62,9) =
    // 0.032522475 (a true tie → id asc breaks it); 30 and 40 both
    // score round(1/63,9) = 0.015873016 (same).
    val a = Seq(("q1", 10L, 1), ("q1", 20L, 2), ("q1", 30L, 3))
      .toDF("qid", "id", "rank")
    val b = Seq(("q1", 20L, 1), ("q1", 10L, 2), ("q1", 40L, 3))
      .toDF("qid", "id", "rank")
    val got = Fusion.reciprocalRankFusion(Seq(a, b), "qid", "id", "rank")
      .orderBy("rank")
      .as[(String, Int, Long, Double, Long)].collect().toSeq
    assert(got == Seq(
      ("q1", 1, 10L, 0.032522475, 2L),
      ("q1", 2, 20L, 0.032522475, 2L),
      ("q1", 3, 30L, 0.015873016, 1L),
      ("q1", 4, 40L, 0.015873016, 1L)))
  }

  test("single-system fusion preserves the input order; topK truncates") {
    val a = Seq(("q1", 7L, 1), ("q1", 5L, 2), ("q1", 9L, 3),
      ("q2", 1L, 1)).toDF("qid", "id", "rank")
    val got = Fusion.reciprocalRankFusion(Seq(a), "qid", "id", "rank",
        topK = 2)
      .select("qid", "rank", "id")
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(
      ("q1", 1, 7L), ("q1", 2, 5L), ("q2", 1, 1L)))
  }

  test("MMR greedy selection on a hand-checked geometry") {
    // λ=0.5 and dyadic rels keep every IEEE product/difference exact:
    // id1 rel 1.0 picked first (score 0.5); id2 duplicates id1's
    // direction (sim 1.0 → mmr −0.125) so the orthogonal id3 (0.25)
    // and the VECTORLESS id4 (sim coalesces to 0 → 0.125) both beat
    // it; the redundant duplicate sinks to last despite rel 0.75.
    val cand = Seq(("q1", 1L, 1.0), ("q1", 2L, 0.75), ("q1", 3L, 0.5),
      ("q1", 4L, 0.25)).toDF("qid", "id", "rel")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("id", "vector")
    val got = graft.ops.Fusion.mmrRerank(cand, vecs, lambda = 0.5, k = 4)
    val rows = got.orderBy("rank")
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(rows == Seq(
      ("q1", 1, 1L, 0.5),
      ("q1", 2, 3L, 0.25),
      ("q1", 3, 4L, 0.125),
      ("q1", 4, 2L, -0.125)))
  }

  test("MMR builds its frame with no job and leaves no pin") {
    val cand = Seq(("q1", 1L, 1.0), ("q1", 2L, 0.75), ("q1", 3L, 0.5))
      .toDF("qid", "id", "rel")
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0))).toDF("id", "vector")
    val pins0 = spark.sparkContext.getPersistentRDDs.keySet
    var got: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { got = Fusion.mmrRerank(cand, vecs, lambda = 0.5, k = 3) }
    assert(jobs.isEmpty, s"building the frame launched:\n${jobs.mkString("\n")}")
    assert(got.select("rank", "id").as[(Int, Long)].collect().sorted.toSeq ==
      Seq((1, 1L), (2, 3L), (3, 2L)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == pins0,
      "mmrRerank left a persisted RDD behind")
  }

  test("MMR: a selected row without a vector adds no similarity") {
    // id1 (no vector) goes first; id2 then has no pair with the
    // selected set (0.25 beats id3's 0.125), and id3's max is its
    // cosine −1 with id2 alone: 0.125 + 0.5 = 0.625 — a 0 from id1
    // would have capped it at 0.125
    val cand = Seq(("q1", 1L, 1.0), ("q1", 2L, 0.5), ("q1", 3L, 0.25))
      .toDF("qid", "id", "rel")
    val vecs = Seq((2L, Seq(1.0, 0.0)), (3L, Seq(-1.0, 0.0)))
      .toDF("id", "vector")
    val rows = Fusion.mmrRerank(cand, vecs, lambda = 0.5, k = 3)
      .orderBy("rank").as[(String, Int, Long, Double)].collect().toSeq
    assert(rows == Seq(("q1", 1, 1L, 0.5), ("q1", 2, 2L, 0.25),
      ("q1", 3, 3L, 0.625)))
  }

  test("MMR round 1 ranks on raw rel, not on the rounded λ·rel") {
    // both λ·rel round to 0.05; the raw rel picks id9 over the
    // smaller id1
    val cand = Seq(("q1", 9L, 0.1000000004), ("q1", 1L, 0.1000000002))
      .toDF("qid", "id", "rel")
    val vecs = Seq.empty[(Long, Seq[Double])].toDF("id", "vector")
    val rows = Fusion.mmrRerank(cand, vecs, lambda = 0.5, k = 1)
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(rows == Seq(("q1", 1, 9L, 0.05)))
  }

  test("MMR returns every candidate once when k exceeds them, per " +
    "query and independent of layout") {
    val cand = (Seq(("q1", 1L, 0.5), ("q1", 2L, 0.25), ("q1", 3L, 0.125)) ++
      (1 to 6).map(i => ("q2", i.toLong, 1.0 / i))).toDF("qid", "id", "rel")
    val vecs = (1 to 6).map(i => (i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("id", "vector")
    val rows = Fusion.mmrRerank(cand, vecs, lambda = 0.7, k = 10)
      .as[(String, Int, Long, Double)].collect().toSet
    for ((q, n) <- Seq("q1" -> 3, "q2" -> 6)) {
      val mine = rows.filter(_._1 == q)
      assert(mine.toSeq.map(_._2).sorted == (1 to n), s"$q ranks: $mine")
      assert(mine.map(_._3) == (1 to n).map(_.toLong).toSet, s"$q ids: $mine")
    }
    // q2 alone gives the same rows: queries do not see each other
    assert(Fusion.mmrRerank(cand.filter($"qid" === "q2"), vecs, 0.7, 10)
      .as[(String, Int, Long, Double)].collect().toSet == rows.filter(_._1 == "q2"))
    assert(Fusion.mmrRerank(cand.repartition(5), vecs.repartition(3), 0.7, 10)
      .as[(String, Int, Long, Double)].collect().toSet == rows, "MMR depends on layout")
  }

  test("q_mmr_rerank runs at most 3 jobs more than its candidate " +
    "source q_hybrid_search (sf0.001)") {
    def jobsToRun(q: String) =
      jobsOf(SparkEntry.queries(q)(spark, sfDir).collect())
    jobsToRun("q_hybrid_search") // table and session warm-up
    val mmr = jobsToRun("q_mmr_rerank")
    val hybrid = jobsToRun("q_hybrid_search")
    info(s"q_mmr_rerank ${mmr.size} jobs, q_hybrid_search ${hybrid.size}")
    assert(mmr.size <= hybrid.size + 3,
      s"q_mmr_rerank launched:\n${mmr.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("fusion is layout-independent") {
    val a = (1 to 50).map(i => ("q1", (i * 7 % 100).toLong, i))
      .toDF("qid", "id", "rank")
    val b = (1 to 50).map(i => ("q1", (i * 13 % 100).toLong, i))
      .toDF("qid", "id", "rank")
    val x = Fusion.reciprocalRankFusion(Seq(a, b), "qid", "id", "rank",
        topK = 30)
      .as[(String, Int, Long, Double, Long)].collect().toSet
    val y = Fusion.reciprocalRankFusion(
        Seq(a.repartition(7), b.repartition(3)), "qid", "id", "rank",
        topK = 30)
      .as[(String, Int, Long, Double, Long)].collect().toSet
    assert(x == y, "RRF depends on layout")
  }
}
