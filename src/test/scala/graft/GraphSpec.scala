package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("integer PageRank on a hand-checked star graph") {
    // star: 1..4 all point to 0; 0 points back to 1 — node 0 must
    // dominate, spokes 2..4 (no inbound except none) sit at base
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val got = Graph.pageRankInt(edges, col("src"), col("dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 5)
    val base = 15000000000L / (100L * 5)
    assert(got(2L) == base && got(3L) == base && got(4L) == base)
    assert(got(0L) > got(1L) && got(1L) > got(2L),
      s"hub/spoke ordering violated: $got")
  }

  test("ranks are layout-independent and sum to ~1 (floor leakage only)") {
    val edges = (0 until 400).map(i =>
      (i.toLong % 37, (i * 7 + 3).toLong % 37)).toDF("src", "dst")
    val a = Graph.pageRankInt(edges, col("src"), col("dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRankInt(edges.repartition(11), col("src"),
        col("dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "integer PageRank depends on layout")
    val mass = a.values.sum
    // every div floors at most one 1e-9 unit per node per term
    assert(mass <= 1000000000L && mass > 990000000L,
      s"rank mass out of envelope: $mass")
  }

  test("zero iterations returns the uniform initialization") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val got = Graph.pageRankInt(edges, col("src"), col("dst"), 0)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(500000000L))
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap

  test("pageRankInt on an empty edge list is an empty (node, rank) frame " +
    "on both paths") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (bound <- Seq(1000000L, 0L); iters <- Seq(0, 3)) {
      val got = Graph.pageRankInt(edges, col("src"), col("dst"), iters,
        driverMaxEdges = bound)
      assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("node" -> "bigint", "rank" -> "bigint"))
      assert(got.isEmpty, s"bound $bound, iters $iters")
    }
  }

  test("pageRankInt on a single edge, hand-checked on both paths") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    // n = 2: base = 15e9 / 200, uniform start 5e8; node 1 is dangling
    // into nothing and only ever keeps base
    val base = 75000000L
    val want = Map(
      0 -> Map(1L -> 500000000L, 2L -> 500000000L),
      1 -> Map(1L -> base, 2L -> (base + 85 * 500000000L / 100)),
      2 -> Map(1L -> base, 2L -> (base + 85 * base / 100)))
    for (bound <- Seq(1000000L, 0L); (iters, ranks) <- want) {
      val got = ranksOf(Graph.pageRankInt(edges, col("src"), col("dst"),
        iters, driverMaxEdges = bound))
      assert(got == ranks.map { case (k, v) => Some(k) -> v },
        s"bound $bound, iters $iters")
    }
  }

  test("pageRankInt: the driver path equals the distributed path exactly " +
    "(null endpoints, self-loops, parallel edges, dangling nodes)") {
    val rnd = new scala.util.Random(20261017L)
    for (g <- 0 until 40) {
      val nodes = 1 + rnd.nextInt(25)
      def end(): Option[Long] =
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(nodes).toLong)
      val base = Seq.fill(1 + rnd.nextInt(60))((end(), end()))
      // repeat some edges verbatim: parallel edges count once each
      val edgeList = base ++ base.take(rnd.nextInt(5))
      val edges = edgeList.toDF("src", "dst").repartition(1 + rnd.nextInt(5))
      val iters = if (g < 2) g else 1 + rnd.nextInt(5)
      val checkEvery = 1 + rnd.nextInt(3)
      val local = ranksOf(Graph.pageRankInt(edges, col("src"), col("dst"),
        iters, checkEvery))
      val dist = ranksOf(Graph.pageRankInt(edges, col("src"), col("dst"),
        iters, checkEvery, driverMaxEdges = 0L))
      assert(local == dist,
        s"graph $g (iters $iters, edges $edgeList): driver $local vs " +
          s"distributed $dist")
    }
  }

  test("pageRankInt on a 5k-edge graph launches a handful of jobs and " +
    "leaves no pin") {
    val edges = (0 until 5000).map(i =>
      (i.toLong % 700, (i * 31 + 7).toLong % 700)).toDF("src", "dst")
    val pins0 = spark.sparkContext.getPersistentRDDs.keySet
    var ranks = Map.empty[Option[Long], Long]
    val jobs = jobsOf {
      ranks = ranksOf(Graph.pageRankInt(edges, col("src"), col("dst"), 3))
    }
    info(s"${jobs.size} jobs")
    // edge cut 1 + bounded probe (1-2 incremental takes)
    assert(jobs.size <= 6, s"pageRankInt launched:\n${jobs.mkString("\n")}")
    assert(spark.sparkContext.getPersistentRDDs.keySet == pins0,
      "the driver path left a persisted RDD behind")
    assert(ranks == ranksOf(Graph.pageRankInt(edges, col("src"), col("dst"),
      3, driverMaxEdges = 0L)))
  }

  test("connectedComponents labels every node with its component min") {
    // two chains + a triangle with a self-loop and reversed/dup edges
    val edges = Seq(
      (5L, 3L), (3L, 9L),            // component {3,5,9} min 3
      (10L, 11L),                    // component {10,11} min 10
      (20L, 21L), (21L, 22L), (22L, 20L), // triangle min 20
      (22L, 22L),                    // self-loop: no connectivity
      (9L, 5L)                       // reversed duplicate
    ).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, col("src"), col("dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      3L -> 3L, 5L -> 3L, 9L -> 3L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // layout independence
    val re = Graph.connectedComponents(
      edges.repartition(7), col("src"), col("dst"))
      .as[(Long, Long)].collect().toMap
    assert(re == got)
  }

  test("triangleCounts on hand-checked graphs") {
    // K4 on {0,1,2,3}: C(4,3)=4 triangles, every vertex in 3, deg 3
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L)).toDF("s", "t")
    val gotK4 = Graph.triangleCounts(k4, col("s"), col("t"))
      .as[(Long, Long, Long)].collect().toSet
    assert(gotK4 == (0L to 3L).map(v => (v, 3L, 3L)).toSet)

    // path 0-1-2-3: no triangles → empty output
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "t")
    assert(Graph.triangleCounts(path, col("s"), col("t")).isEmpty)

    // one triangle {0,1,2} + pendant 3, with a self-loop, a reversed
    // duplicate, and a parallel edge — all must collapse
    val messy = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (1L, 0L),
      (2L, 2L), (2L, 3L)).toDF("s", "t")
    val gotMessy = Graph.triangleCounts(messy, col("s"), col("t"))
      .as[(Long, Long, Long)].collect().toSet
    assert(gotMessy == Set((0L, 1L, 2L), (1L, 1L, 2L), (2L, 1L, 3L)))
  }

  test("kCore peels hand-checked graphs to the exact core") {
    // K4 with a pendant chain: 3-core = the K4, all degrees 3
    val k4chain = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val got = Graph.kCore(k4chain, col("s"), col("t"), k = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))

    // the chain itself has an empty 2-core; its 1-core is everything
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "t")
    assert(Graph.kCore(chain, col("s"), col("t"), k = 2).isEmpty)
    assert(Graph.kCore(chain, col("s"), col("t"), k = 1)
      .count() == 4L)

    // cascade: triangle + tail whose removal drops a triangle vertex
    // below 3 is NOT possible for k=2 — but a square with one diagonal
    // peels nothing at k=2 and everything at k=3 except... check:
    // square 0-1-2-3-0 with diagonal 0-2: degrees 3,2,3,2 — 3-core
    // empty (peeling 1 and 3 leaves 0-2 at degree 1)
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
      .toDF("s", "t")
    assert(Graph.kCore(sq, col("s"), col("t"), k = 3).isEmpty)
    assert(Graph.kCore(sq, col("s"), col("t"), k = 2)
      .as[(Long, Long)].collect().toMap ==
      Map(0L -> 3L, 1L -> 2L, 2L -> 3L, 3L -> 2L))
  }

  test("kCore is idempotent, layout-independent, and degree-sound") {
    val edges = (0 until 300).map(i =>
      ((i * 13 + 5).toLong % 40, (i * 29 + 11).toLong % 40))
      .toDF("s", "t")
    val core = Graph.kCore(edges, col("s"), col("t"), k = 4)
    val got = core.as[(Long, Long)].collect().toMap
    // every core degree >= k (the peel converged)
    assert(got.values.forall(_ >= 4L), s"degree < k in core: $got")
    // layout independence
    val re = Graph.kCore(edges.repartition(7), col("s"), col("t"), k = 4)
      .as[(Long, Long)].collect().toMap
    assert(re == got, "kCore depends on layout")
    // idempotence: peeling the core again removes nothing
    val coreEdges = edges
      .select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .join(core.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(core.select(col("node").as("v")), Seq("v"), "left_semi")
    val again = Graph.kCore(coreEdges, col("u"), col("v"), k = 4)
      .as[(Long, Long)].collect().toMap
    assert(again == got, "kCore not a fixpoint of itself")
  }

  test("triangleCounts is layout-independent and matches a brute count") {
    // deterministic pseudo-random graph on 40 nodes
    val edges = (0 until 300).map(i =>
      ((i * 13 + 5).toLong % 40, (i * 29 + 11).toLong % 40))
      .toDF("s", "t")
    val got = Graph.triangleCounts(edges, col("s"), col("t"))
      .as[(Long, Long, Long)].collect().toSet
    val re = Graph.triangleCounts(edges.repartition(7), col("s"),
        col("t")).as[(Long, Long, Long)].collect().toSet
    assert(re == got, "triangle counts depend on layout")
    // brute-force reference: all C(3) vertex combinations
    val adj = edges.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val nodes = adj.map(_._1).toSeq.sorted
    val perVertex = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- i + 1 until nodes.size
      k <- j + 1 until nodes.size
      if adj((nodes(i), nodes(j))) && adj((nodes(j), nodes(k))) &&
        adj((nodes(i), nodes(k)))
    } Seq(nodes(i), nodes(j), nodes(k)).foreach(v =>
      perVertex(v) += 1L)
    val deg = adj.groupBy(_._1).map { case (v, s) => v -> s.size.toLong }
    val want = perVertex.map { case (v, n) => (v, n, deg(v)) }.toSet
    assert(got == want,
      s"mismatch vs brute force: got ${got.size} rows, want ${want.size}")
  }
}
