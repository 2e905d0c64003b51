package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.similarity.KMeans

/** Deterministic k-means pinned the QualityModel way: a sequential
  * exact-decimal reference replay (same md5 seeding, same tie rule,
  * same decimal centroid sums), a forced-separation blob case, layout
  * independence, Lloyd's monotone descent, and the empty-cluster rule.
  */
class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Plain-Scala replay of seeds + train: md5-ordered seed pick,
    * argmin L2 via the argmax (v·c − ½|c|²) form with ties to the
    * LARGER index (the ArgTopCells struct-sort rule), per-dimension
    * decimal sums (HALF_UP at scale 12 — the Spark Cast path), one
    * double division per dimension.
    */
  private def naiveTrain(
      rows: Seq[(Long, Array[Double])],
      k: Int, dim: Int, iters: Int): Seq[Array[Double]] = {
    def dec(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    var cen = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(k).map(_._2.clone())
    def assignOf(v: Array[Double]): Int = {
      var best = 0
      var bestD = Double.NegativeInfinity
      for (i <- cen.indices) {
        var d = 0.0
        var j = 0
        while (j < dim) { d += v(j) * cen(i)(j); j += 1 }
        d -= 0.5 * cen(i).map(x => x * x).sum
        if (java.lang.Double.compare(d, bestD) >= 0) { bestD = d; best = i }
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(cen.length, dim)(java.math.BigDecimal.ZERO)
      val counts = new Array[Long](cen.length)
      rows.foreach { case (_, v) =>
        val c = assignOf(v)
        for (j <- 0 until dim) sums(c)(j) = sums(c)(j).add(dec(v(j)))
        counts(c) += 1
      }
      cen = cen.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0L) old
        else (0 until dim).map(j => sums(i)(j).doubleValue / counts(i)).toArray
      }
    }
    cen
  }

  test("train matches the sequential exact-decimal reference") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val got = KMeans.train(emb, "vec_id", "embedding",
      k = 8, dim = 64, iters = 3)
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val want = naiveTrain(rows, k = 8, dim = 64, iters = 3)
    assert(got.map(_.toSeq) == want.map(_.toSeq),
      "distributed centroids diverged from the sequential replay")
  }

  test("training is layout-independent") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = KMeans.train(emb, "vec_id", "embedding", 8, 64, 3)
    val b = KMeans.train(emb.repartition(13), "vec_id", "embedding", 8, 64, 3)
    assert(a.map(_.toSeq) == b.map(_.toSeq),
      "centroids depend on partitioning — the decimal discipline broke")
  }

  test("well-separated blobs cluster at purity 1.0") {
    val blobs = (0 until 30).map { i =>
      val c = i % 3
      (i.toLong, Array(c * 100.0 + (i % 7) * 0.1, -c * 50.0 + (i % 5) * 0.1), c)
    }
    val df = blobs.map(b => (b._1, b._2.toSeq, b._3))
      .toDF("vec_id", "embedding", "truth")
    // vanilla Lloyd's is only guaranteed the blob structure when each
    // blob holds a seed — warm-start with one member of each (md5
    // seeding CAN drop two seeds in one blob and split it: a local
    // optimum, not a defect; the WCSS floor in RECALL.json is the
    // seeding-quality gate)
    val init = Seq(blobs(0)._2, blobs(1)._2, blobs(2)._2)
    val cen = KMeans.train(df, "vec_id", "embedding",
      k = 3, dim = 2, iters = 5, init = Some(init))
    val assigned = KMeans.assign(df, "embedding", cen)
    val purity = assigned.groupBy(col("cluster"), col("truth"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster")).agg(max(col("n")).as("top"))
      .agg(sum(col("top"))).head().getLong(0).toDouble / blobs.size
    assert(cen.size == 3)
    assert(purity == 1.0, s"separable blobs must cluster cleanly, got $purity")
  }

  test("Lloyd's descent is monotone in the WCSS objective") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    def sqDistTo(v: Column, c: Array[Double]): Column =
      aggregate(
        zip_with(v, array(c.map(lit(_)): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def wcss(cen: Seq[Array[Double]]): Double =
      emb.select(col("embedding").cast("array<double>").as("v"))
        .select(least(cen.map(c => sqDistTo(col("v"), c)): _*).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    val objectives = (0 to 3).map(i =>
      wcss(KMeans.train(emb, "vec_id", "embedding", 8, 64, iters = i)))
    objectives.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + 1e-9,
        s"WCSS rose across an iteration: $objectives")
    }
    assert(objectives.last < objectives.head,
      "3 iterations should improve on the raw seeds")
  }

  test("centroids persist and reload through the table store") {
    // deployment loop: train offline → persist → assign in a later job
    import org.apache.spark.sql.types._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val cen = KMeans.train(emb, "vec_id", "embedding", 8, 64, 2)
    val store = new graft.streaming.TableStore(
      java.nio.file.Files.createTempDirectory("km_store").toString)
    store.overwrite("km_centroids", KMeans.centroidsDf(spark, cen))
    val reloaded = KMeans.centroidsFromDf(store.read(spark, "km_centroids",
      StructType(Seq(StructField("cluster", IntegerType),
        StructField("centroid", ArrayType(DoubleType))))))
    assert(reloaded.map(_.toSeq) == cen.map(_.toSeq),
      "centroids drifted through the parquet round trip")
    val direct = KMeans.assign(emb, "embedding", cen)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fromStore = KMeans.assign(emb, "embedding", reloaded)
      .select("vec_id", "cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromStore == direct, "assignments drifted through the store")
  }

  test("q_kmeans_assign matches its committed sf0.01 golden output") {
    checkGoldenTsv("q_kmeans_assign")
  }

  private def trainBoth(
      df: org.apache.spark.sql.DataFrame, k: Int, dim: Int, iters: Int)
      : (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    def run(bound: Long) = KMeans.train(df, "vec_id", "embedding", k, dim,
      iters, driverMaxVectors = bound).map(_.toSeq)
    (run(20000L), run(0L))
  }

  test("the driver path trains bit-identical centroids to the distributed " +
    "path: null and wrong-dim vectors, empty clusters, iters 0, " +
    "repartitioned input") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    // rows the filter must drop on both paths
    val noisy = emb.unionByName(Seq(
      (900001L, null: Seq[Double]), (900002L, Seq(1.0, 2.0)),
      (900003L, Seq.fill(65)(0.5))).toDF("vec_id", "embedding"))
    for ((df, iters) <- Seq(noisy -> 3, noisy -> 0,
        emb.repartition(13) -> 4)) {
      val (local, dist) = trainBoth(df, k = 8, dim = 64, iters)
      assert(local == dist, s"paths diverged at iters $iters")
    }
    // a starved cluster keeps its seed on both paths
    val pts = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 0.0)),
      (3L, Seq(0.0, 10.0)), (4L, Seq(0.0, 0.0))).toDF("vec_id", "embedding")
    val (local, dist) = trainBoth(pts, k = 4, dim = 2, iters = 2)
    assert(local == dist, "paths diverged with an empty cluster")
  }

  test("the distributed path persists its input once and releases it") {
    // one file: below the core count, so the loop repartitions
    val emb = Tables.load(spark, sfDir, "embeddings").coalesce(1)
    val pins0 = spark.sparkContext.getPersistentRDDs.keySet
    var dist = Seq.empty[Array[Double]]
    val iters = 6
    val jobs = jobsOf {
      dist = KMeans.train(emb, "vec_id", "embedding", k = 8, dim = 64,
        iters, driverMaxVectors = 0L)
    }
    // unpersisted, every iteration re-scans and re-shuffles the input
    val scans = jobs.count(_.contains("Scan parquet"))
    assert(scans < iters, s"the input was re-read per iteration:\n" +
      jobs.mkString("\n"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == pins0,
      "the training loop left a persisted RDD behind")
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    assert(dist.map(_.toSeq) ==
      naiveTrain(rows, k = 8, dim = 64, iters).map(_.toSeq),
      "persisting the vectors changed the centroids")
  }

  test("the driver path trains in a handful of jobs") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val jobs = jobsOf(KMeans.train(emb, "vec_id", "embedding", 8, 64, 5))
    info(s"${jobs.size} jobs")
    // seed top-k 1 + bounded probe (1-2 incremental takes), none per
    // iteration
    assert(jobs.size <= 4, s"train launched:\n${jobs.mkString("\n")}")
  }

  test("an empty cluster keeps its previous centroid") {
    // 3 distinct points, k=4: one seed duplicates another's location,
    // loses every assignment on the tie rule, and must survive as-is
    val pts = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(10.0, 0.0)), (3L, Seq(0.0, 10.0)),
      (4L, Seq(0.0, 0.0)))
    val df = pts.toDF("vec_id", "embedding")
    val cen = KMeans.train(df, "vec_id", "embedding", k = 4, dim = 2,
      iters = 2)
    assert(cen.size == 4)
    val seeds = KMeans.seeds(df, "vec_id", "embedding", 4)
    val counts = KMeans.assign(df, "embedding", cen)
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val empty = (0 until 4).filterNot(counts.contains)
    assert(empty.nonEmpty, "the duplicate-seed setup must starve a cluster")
    empty.foreach(i => assert(cen(i).toSeq == seeds(i).toSeq,
      "a starved cluster must keep its seed centroid"))
  }
}
