package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

import graft.functions.ClusterSumAgg

/** Deterministic distributed k-means (Lloyd's) over embedding columns
  * — the corpus-analysis / SemDeDup-style clustering primitive, built
  * to the engine's exact-arithmetic discipline.
  *
  * Where [[Ivf.train]] is the ANN quantizer (spherical, treeAggregate
  * float sums — reduction-order dependent, fine for an index whose
  * recall is measured), THIS trainer is for clustering results that
  * must be REPRODUCIBLE: per-dimension centroid sums go through
  * DECIMAL(28,12) — exact, order-free — so the trained centroids and
  * every assignment are bit-identical on any cluster layout, any run.
  *
  *  - init: the k vectors with the smallest `(md5(id), id)` —
  *    content-addressed, so the seed set is stable across layouts,
  *    engines, and incremental rebuilds (the [[graft.ops.Sampling]]
  *    rule applied to seeding);
  *  - assign: argmin_c ||v − c||² computed as argmax_c (v·c − ½|c|²)
  *    via ONE native [[graft.functions.ArgTopCells]] evaluation over
  *    the bias-augmented vector `[v, 1]` and centroids
  *    `[c, −½|c|²]` — a pure map-side projection against plan-literal
  *    centroids (ties take the larger index, the ArgTopCells rule);
  *  - update: `posexplode` the vector, aggregate
  *    `(cluster, dim) → (Σ decimal, count)` with map-side partials —
  *    shuffle volume is partitions × k × dim scalars, never
  *    corpus-sized; k×dim rows reach the driver per iteration;
  *  - fixed iteration count (no data-dependent convergence test), so
  *    the whole training run is replayable.
  *
  * 100 TB shape: each iteration is one shuffle of bounded partials;
  * the corpus is read `iters` times map-side (cache the projected
  * vector column if memory allows). Empty clusters keep their
  * previous centroid (the [[Ivf]] rule).
  */
object KMeans {

  /** Augment centroids with the −½|c|² bias term so L2 argmin becomes
    * a dot-product argmax over `[v, 1]`.
    */
  private def augment(cen: Seq[Array[Double]]): Seq[Array[Double]] =
    cen.map { c =>
      val bias = -0.5 * c.map(x => x * x).sum
      c :+ bias
    }

  private def vecAsDouble(vecCol: Column): Column =
    vecCol.cast("array<double>")

  /** Cluster index (0-based) of the nearest centroid by squared L2
    * distance; ties to the larger index. NULL for a null vector or one
    * whose length differs from the centroid dimension — the dot
    * product truncates at min(dim, |v|), so an unguarded short vector
    * would get a plausible-looking but meaningless cell instead of a
    * visible null (callers that pre-filter to the trained dim, as
    * [[train]] does, never see the null branch).
    */
  def clusterOf(vecCol: Column, centroids: Seq[Array[Double]]): Column = {
    val v = vecAsDouble(vecCol)
    val d = centroids.headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException("no centroids"))
    when(size(v) === d,
      element_at(
        graft.functions.GraftFunctions.argTopCells(
          concat(v, array(lit(1.0))),
          augment(centroids), 1), 1))
  }

  /** The k seed vectors: smallest `(md5(id), id)` — one distributed
    * top-k, no sort of the corpus.
    */
  def seeds(
      df: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Array[Double]] =
    df.select(vecAsDouble(col(vecCol)).as("v"),
        md5(col(idCol).cast("string")).as("h"), col(idCol).as("i"))
      .filter(col("v").isNotNull)
      .orderBy(col("h"), col("i"))
      .limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray).toSeq

  /** Train `k` centroids with `iters` fixed Lloyd's iterations.
    * Deterministic and layout-independent: assignment is a pure
    * function of (vector, centroids); centroid updates are exact
    * integer 12-dp sums divided once in double.
    *
    * Two paths, one result. ONE `limit(driverMaxVectors + 1)` collect
    * of the filtered vectors ([[graft.ops.DriverLocal.collect]])
    * decides the path. Up to `driverMaxVectors` vectors (≈ 10 MB at
    * the 20k default and dim 64), the iterations run on the driver and
    * feed the collected rows through the very `ClusterSumAgg.Step` the
    * distributed aggregate's `update` runs per task (rounding each
    * vector once instead of once per iteration); above it, each
    * iteration is one aggregate job over the persisted vectors. The
    * sums are integers, so their order does not matter, and the
    * centroids come out bit-identical on either path.
    * `driverMaxVectors = 0` forces the distributed path.
    */
  def train(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iters: Int = 5,
      init: Option[Seq[Array[Double]]] = None,
      driverMaxVectors: Long = 20000L): Seq[Array[Double]] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k/$iters")
    init.foreach(c => require(c.size == k && c.forall(_.length == dim),
      s"init must be $k centroids of dim $dim"))
    val vecs0 = df
      .select(vecAsDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
    var centroids = init.getOrElse(seeds(
      df.filter(size(vecAsDouble(col(vecCol))) === dim),
      idCol, vecCol, k))
    require(centroids.nonEmpty, "corpus has no vector of the given dim")
    if (iters == 0) return centroids
    // one fused assign+accumulate pass (graft.functions.ClusterSumAgg):
    // no explode, no exchange — each task holds the whole k·(dim+1)
    // update state as two long arrays of exact 12-dp unscaled sums,
    // bit-identical to the previous exploded (cluster, dim)-keyed
    // DECIMAL aggregate by the same rounding-and-integer-sum argument
    // as Pca.moments (the q_kmeans_assign golden pins this)
    def frozen(cen: Seq[Array[Double]]) = cen.map(_.toVector).toVector
    graft.ops.DriverLocal.collect(vecs0, driverMaxVectors) match {
      case Some(rows) =>
        val vs = rows.map(r =>
          UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](0).toArray))
        // the decimal rounding does not depend on the centroids (and
        // dominates the pass): once per vector, not once per iteration
        val us = vs.map(ClusterSumAgg.rounded)
        for (_ <- 0 until iters) {
          val step = new ClusterSumAgg.Step(frozen(centroids))
          val buf = step.zero()
          vs.indices.foreach(i => step.add(buf, vs(i), us(i)))
          centroids = recenter(centroids, buf.counts.toSeq, buf.sums.toSeq)
        }
      case None =>
        // same guard as Pca.moments: the O(k·dim)-per-row fused update
        // dominates the scan, so a small corpus in few files must
        // spread across cores (skipped when the input is already
        // wide); persisted once, or every iteration re-runs the scan
        // and the repartition shuffle
        val par = df.sparkSession.sparkContext.defaultParallelism
        val vecs = (if (vecs0.rdd.getNumPartitions < par) vecs0.repartition(par)
          else vecs0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try for (_ <- 0 until iters) {
          val aggCol = org.apache.spark.sql.GraftSqlShims.column(
            ClusterSumAgg(
              org.apache.spark.sql.GraftSqlShims.expression(col("v")),
              frozen(centroids)).toAggregateExpression())
          val s = vecs.agg(aggCol.as("u")).head().getStruct(0)
          centroids = recenter(centroids, s.getSeq[Long](0), s.getSeq[Long](1))
        } finally vecs.unpersist()
    }
    centroids
  }

  /** The Lloyd's update from one pass's (counts, 12-dp unscaled sums):
    * an empty cluster keeps its centroid, else each coordinate is the
    * exact sum divided once by the count.
    */
  private def recenter(
      old: Seq[Array[Double]],
      counts: Seq[Long],
      cells: Seq[Long]): Seq[Array[Double]] = {
    val dim = old.head.length
    old.zipWithIndex.map { case (c, i) =>
      if (counts(i) == 0L) c
      else Array.tabulate(dim) { j =>
        new java.math.BigDecimal(
          java.math.BigInteger.valueOf(cells(i * dim + j)), 12)
          .doubleValue / counts(i)
      }
    }
  }

  /** Assignment projection: the input plus a 0-based `cluster` column.
    * Shuffle-free — centroids are plan literals.
    */
  def assign(
      df: DataFrame, vecCol: String, centroids: Seq[Array[Double]],
      clusterCol: String = "cluster"): DataFrame =
    df.withColumn(clusterCol, clusterOf(col(vecCol), centroids))

  /** Centroids as a `(cluster, centroid)` DataFrame — the persistable
    * model artifact (store via [[graft.streaming.TableStore]], reload
    * with [[centroidsFromDf]]). Doubles survive the parquet round trip
    * bit-for-bit, so a reloaded model assigns identically.
    */
  def centroidsDf(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
  }

  /** Reload centroids persisted via [[centroidsDf]]. */
  def centroidsFromDf(df: DataFrame): Seq[Array[Double]] =
    df.select(col("cluster").cast("int"),
        col("centroid").cast("array<double>"))
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray).toSeq

  /** Convenience: train then assign; returns (assigned, centroids). */
  def fitPredict(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      iters: Int = 5): (DataFrame, Seq[Array[Double]]) = {
    val cen = train(df, idCol, vecCol, k, dim, iters)
    (assign(df, vecCol, cen), cen)
  }
}
