package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the FAISS
  * IVF-Flat shape, Spark-first: a coarse spherical k-means quantizer
  * splits the corpus into `nlist` cells; each query probes its
  * `nprobe` closest cells and exact-reranks only those candidates.
  *
  * Scale design (100 TB corpus, 1000 executors):
  *  - training touches the corpus `iters` times with map-side argmax
  *    against BROADCAST centroids (k×dim doubles — literals in the
  *    plan), one tiny (cell, pos) aggregate per iteration;
  *  - cell assignment is a pure projection — the corpus shuffles ONCE
  *    on cell_id for the probe join, the recall/cost dial is
  *    nprobe/nlist;
  *  - everything is Column expressions over the native
  *    [[graft.functions.VectorDot]]; no UDFs, no driver-side vectors
  *    beyond the k centroids.
  *
  * Determinism: initialization takes the `nlist` lowest-id vectors and
  * Lloyd's iterations are fixed-count, so the index is identical across
  * runs — recall is measured, not flaky.
  */
object Ivf {

  private def unitize(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0d) a else a.map(_ / n)
  }

  /** FAISS-style corpus-adaptive cell count: ≈ √n, clamped to
    * [8, 4096]. A FIXED nlist is the scale trap this replaces: cells
    * hold n/nlist vectors, so growing the corpus 10× under the same
    * nlist makes every cell 10× denser and recall at a fixed nprobe
    * decays (measured 0.88 → 0.77 from sf0.01 to sf0.1 at nlist=64).
    * √n sizing keeps candidate volume ≈ nprobe·n^1.5 — sub-quadratic —
    * while the probed FRACTION of the corpus (nprobe/√n of it) shrinks
    * as n grows. Costs one count job; callers that know their corpus
    * pass nlist explicitly and skip it.
    */
  private def autoNlist(corpus: DataFrame): Int = {
    val n = corpus.count()
    math.max(8, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** THE assignment rule, shared by the driver-side and treeAggregate
    * training paths so they can never desynchronize: argmax_c v·c,
    * `>=` ties to the larger index (matching [[ArgTopCells]]'s
    * struct-sort tie rule).
    */
  private def assignBest(
      v: Array[Double], cen: Array[Array[Double]], dim: Int): Int = {
    var best = 0
    var bestD = Double.NegativeInfinity
    var i = 0
    while (i < cen.length) {
      var d = 0.0; var j = 0
      while (j < dim) { d += v(j) * cen(i)(j); j += 1 }
      // Double.compare, not >=: NaN dots must rank ABOVE every double
      // exactly as ArgTopCells' struct-sort does, or a NaN vector
      // trains into a different cell than assignment places it
      if (java.lang.Double.compare(d, bestD) >= 0) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** THE centroid update rule, shared by both training paths: empty
    * cell keeps its centroid, else mean then renormalize (zero-norm
    * mean also keeps the old centroid).
    */
  private def recenter(
      old: Array[Array[Double]],
      sums: Array[Array[Double]],
      counts: Array[Long]): Array[Array[Double]] =
    old.zipWithIndex.map { case (o, i) =>
      if (counts(i) == 0L) o
      else {
        val mean = sums(i).map(_ / counts(i))
        val n = math.sqrt(mean.map(x => x * x).sum)
        if (n == 0d) o else mean.map(_ / n)
      }
    }

  /** (dot, index) argmax over the UNIT centroid set via the native
    * [[graft.functions.ArgTopCells]] expression (ties to the larger
    * index — deterministic). The input vector needs NO normalization:
    * argmax_c v·c is invariant under positive scaling of v, so raw
    * vectors assign to the same cell as their unit form.
    */
  private def bestCell(v: Column, centroids: Seq[Array[Double]]): Column =
    element_at(
      graft.functions.GraftFunctions.argTopCells(v, centroids, 1), 1)

  /** The `nprobe` best cells, exploded to one row each — the
    * multi-assignment used by both the near-dup blocker and the query
    * probe. One native expression instead of nlist inlined literal
    * dots + a struct sort per row (the round-3 form).
    */
  private def probeCellsExploded(
      v: Column, centroids: Seq[Array[Double]], nprobe: Int): Column =
    explode(graft.functions.GraftFunctions.argTopCells(v, centroids, nprobe))

  /** Train the coarse quantizer: spherical k-means on the unit sphere
    * (assign by max dot, re-center by per-dimension mean, re-normalize).
    * Returns `nlist` unit centroids.
    *
    * Each Lloyd's iteration is ONE shuffle-free `treeAggregate` job
    * accumulating (per-cell sum, count) partials — the MLlib KMeans
    * shape, and one of the rare places where dropping to the RDD layer
    * is the right call: the update is a tight per-partition fold into
    * nlist×dim accumulators, with driver traffic that is
    * centroid-sized, never corpus-sized. Init is the `nlist` lowest-id
    * vectors, so the index is reproducible (up to float reduction
    * order in the partial sums).
    */
  def train(
      corpus: DataFrame, // (vec_id, vector)
      dim: Int,
      nlist: Int,
      iters: Int = 5,
      driverMaxVectors: Int = 20000): Seq[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val raw = corpus
      .select(col("vec_id"), col("vector").cast("array<double>").as("v"))
    // Bounded small-corpus fast path (graft.ops.DriverLocal): ONE
    // limited collect probes the size; a sub-20k-vector training set
    // is ≤ 10 MB and Lloyd's on it is milliseconds of driver
    // arithmetic against 1+iters scheduled jobs of pure overhead.
    // Identical update rule (>= tie to the larger index, empty cell
    // keeps its centroid, renormalize) — only the float summation
    // order differs from the tree combine. An overflowing corpus (or
    // driverMaxVectors = 0) falls through to the treeAggregate path,
    // which is also how FAISS trains at scale: on a bounded sample.
    val byId = raw.orderBy(col("vec_id")).select(col("v"))
    val probe = graft.ops.DriverLocal.collect(byId, driverMaxVectors)
    if (probe.isDefined) {
      val vecs = probe.get.map(r => unitize(r.getSeq[Double](0).toArray))
      var centroids = vecs.take(nlist).map(_.clone())
      val k = centroids.length
      for (_ <- 0 until iters) {
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        vecs.foreach { v =>
          val best = assignBest(v, centroids, dim)
          var j = 0
          while (j < dim) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        centroids = recenter(centroids, sums, counts)
      }
      return centroids.toSeq
    }
    var centroids: Array[Array[Double]] = byId.limit(nlist).collect()
      .map(r => unitize(r.getSeq[Double](0).toArray))
    val vecs = raw.select(col("v")).as[Seq[Double]].rdd
      .map(s => unitize(s.toArray))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (0 until iters).foreach { _ =>
        val bc = vecs.context.broadcast(centroids)
        val zero = (Array.fill(nlist)(new Array[Double](dim)),
          new Array[Long](nlist))
        val (sums, counts) = vecs.treeAggregate(zero)(
          seqOp = { case ((s, n), v) =>
            val best = assignBest(v, bc.value, dim)
            var j = 0
            while (j < dim) { s(best)(j) += v(j); j += 1 }
            n(best) += 1
            (s, n)
          },
          combOp = { case ((s1, n1), (s2, n2)) =>
            var i = 0
            while (i < nlist) {
              var j = 0
              while (j < dim) { s1(i)(j) += s2(i)(j); j += 1 }
              n1(i) += n2(i)
              i += 1
            }
            (s1, n1)
          })
        bc.destroy()
        centroids = recenter(centroids, sums, counts)
      }
    } finally vecs.unpersist()
    centroids.toSeq
  }

  /** Embedding near-dup pairs via IVF cell BLOCKING: train the coarse
    * quantizer, assign every vector to its `nprobe` best cells
    * (multi-assignment, so near pairs straddling a cell boundary still
    * co-occur somewhere), generate candidate pairs within cells over
    * bare (id, cell) rows, verify each candidate with one exact cosine.
    *
    * This is the right near-dup blocker when embeddings are CLUSTERED
    * (real corpora are): cells align with the data's own density, so
    * candidate volume ≈ Σ cell² tracks true-pair volume, where
    * random-hyperplane LSH at moderate thresholds degenerates — on the
    * sf0.1 testdata it probes 26% of all pairs for 0.75 recall, while
    * cell blocking reaches comparable recall probing a few percent.
    * Recall is measured against [[graft.dedup.Dedup.embeddingNearDup]]
    * in RECALL.json; (nlist, nprobe) is the recall/cost dial. The
    * default `nlist = 0` auto-sizes to ≈ √n ([[autoNlist]]), which is
    * what keeps recall scale-stable: the sf0.01-calibrated fixed
    * nlist=64 measured 0.77 recall at sf0.1, the √n default measures
    * ≥ 0.93 at both scales (nprobe = 6).
    */
  def cellNearDup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nlist: Int = 0,
      nprobe: Int = 6,
      iters: Int = 5,
      maxCell: Int = 100000): DataFrame = {
    val corpus = embeddings.select(
      col(idCol).as("vec_id"), col(vecCol).as("vector"))
    val nl = if (nlist > 0) nlist else autoNlist(corpus)
    val centroids = train(corpus, dim, nl, iters)
    val e = corpus.select(
      col("vec_id"), col("vector").cast("array<double>").as("v"))
      .withColumn("nrm", Knn.norm(col("v")))
      // no-direction rows: see Knn.bruteForceKnn (NaN poisons ranking)
      .filter(col("nrm") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bare (cell, id) rows — vectors never ride the candidate join
    val assigned = e.select(col("vec_id"),
      probeCellsExploded(col("v"), centroids, nprobe).as("cell"))
    // same skew guard as the LSH path: a degenerate hot cell (mass
    // duplicates, undersized nlist) would otherwise go quadratic
    val big = assigned.groupBy(col("cell")).count()
      .filter(col("count") > maxCell).select(col("cell"))
    val ok = assigned.join(broadcast(big), Seq("cell"), "left_anti")
    ok.select(col("cell"), col("vec_id").as("id_a"))
      .join(ok.select(col("cell"), col("vec_id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .join(e.select(col("vec_id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("cos",
        Knn.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      // a pair can co-occur in up to nprobe² cells — emit it once
      .dropDuplicates("id_a", "id_b")
  }

  // ------------------- persistable index (IVF-Flat) -----------------

  /** Coarse centroids as a `(cell, centroid)` DataFrame — the
    * persistable quantizer artifact (the [[KMeans.centroidsDf]]
    * precedent): store via [[graft.streaming.TableStore.overwrite]],
    * reload with [[centroidsFromDf]]. Doubles survive the parquet
    * round trip bit-for-bit, so a reloaded quantizer assigns and
    * probes identically — 100 TB ANN must NOT retrain per query.
    */
  def centroidsDf(
      spark: org.apache.spark.sql.SparkSession,
      centroids: Seq[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
  }

  /** Reload centroids persisted via [[centroidsDf]]. */
  def centroidsFromDf(df: DataFrame): Seq[Array[Double]] =
    df.select(col("cell").cast("int"),
        col("centroid").cast("array<double>"))
      .collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray).toSeq

  /** Assign the corpus to its cells ONCE: `(vec_id, vector, cell)` —
    * the persistable posting-list layout. Persist it partitioned by
    * cell (`TableStore.overwrite(..., partitionBy = Seq("cell"))`) and
    * a probe becomes a PARTITION-PRUNED read
    * (`read(..., partValues = Some(probedCells))`): a query touches
    * ~nprobe/nlist of the stored bytes and the assignment scan is
    * never re-paid — the on-disk inverted-file property.
    */
  def index(corpus: DataFrame, centroids: Seq[Array[Double]]): DataFrame =
    corpus
      .select(col("vec_id"), col("vector").cast("array<double>").as("vector"))
      .withColumn("__n", Knn.norm(col("vector")))
      .filter(col("__n") > 0) // no-direction rows: see Knn.bruteForceKnn
      .withColumn("cell", bestCell(col("vector"), centroids))
      .select("vec_id", "vector", "cell")

  /** IVF top-k over a PREBUILT index (see [[index]]): each query joins
    * only its `nprobe` best cells, exact cosine reranks, windowed
    * top-k (no global sort). Output shape matches
    * [[Knn.bruteForceKnn]].
    */
  def searchIndex(
      queries: DataFrame,  // (query_id, vector)
      indexed: DataFrame,  // (vec_id, vector, cell) — from [[index]]
      centroids: Seq[Array[Double]],
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val c = indexed.select(col("vec_id"), col("cell"),
        col("vector").cast("array<double>").as("cv"))
      .withColumn("cn", Knn.norm(col("cv")))
      .filter(col("cn") > 0)
    // nprobe best cells per query; dot ranking against unit centroids
    // is scale-invariant in the query too, so raw qv works
    val q = broadcast(queries
      .select(col("query_id"), col("vector").cast("array<double>").as("qv"))
      .withColumn("qn", Knn.norm(col("qv")))
      .filter(col("qn") > 0) // no-direction rows: see Knn.bruteForceKnn
      .withColumn("cell", probeCellsExploded(col("qv"), centroids, nprobe)))
    val scored = c.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(Knn.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }

  /** One-shot IVF top-k: train + [[index]] + [[searchIndex]]. The
    * deployment path trains/indexes once, persists both artifacts, and
    * serves every query from [[searchIndex]].
    */
  def ivfKnn(
      queries: DataFrame, // (query_id, vector)
      corpus: DataFrame,  // (vec_id, vector)
      dim: Int,
      k: Int,
      nlist: Int = 0, // 0 = auto ≈ √n (see autoNlist)
      nprobe: Int = 4,
      iters: Int = 5): DataFrame = {
    val nl = if (nlist > 0) nlist else autoNlist(corpus)
    val centroids = train(corpus, dim, nl, iters)
    searchIndex(queries, index(corpus, centroids), centroids, k, nprobe)
  }

  // ---------------- product quantization (IVF-PQ) -------------------

  /** PQ codebooks: `m` subspaces of `dsub = dim/m` dims, `ksub`
    * centroids each — vectors compress to `m` small ints, the FAISS
    * IVF-PQ composition (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"). At 10⁹+ vectors MEMORY is the binding
    * constraint: IVF-Flat stores `dim` doubles/vector (512 B at
    * dim 64), PQ stores `m` codes (8 B at m=8) — a 64× reduction the
    * stored-index path needs to fit hot shards in executor memory.
    */
  final case class PqModel(
      dim: Int, m: Int, ksub: Int,
      codebooks: Seq[Seq[Array[Double]]]) { // m × ksub × dsub
    val dsub: Int = dim / m
    require(m >= 1 && dim % m == 0, s"dim $dim must be divisible by m $m")
    require(codebooks.size == m && codebooks.forall(_.size <= ksub) &&
      codebooks.forall(_.forall(_.length == dsub)),
      "codebook shape must be m × (≤ksub) × dsub")
  }

  /** `c :+ −½|c|²` — the [[KMeans.clusterOf]] augmentation that turns
    * L2 argmin into a dot argmax over `[v, 1]`.
    */
  private def augmentL2(cen: Seq[Array[Double]]): Seq[Array[Double]] =
    cen.map(c => c :+ (-0.5 * c.map(x => x * x).sum))

  /** Driver-side L2 argmin matching the [[graft.functions.ArgTopCells]]
    * tie rule (`>=` keeps the LARGER index) over augmented vectors.
    */
  private def assignL2(
      v: Array[Double], off: Int, cen: Seq[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.NegativeInfinity
    var i = 0
    while (i < cen.length) {
      val c = cen(i)
      var d = 0.0; var j = 0
      while (j < c.length) { d += v(off + j) * c(j); j += 1 }
      d += -0.5 * {
        var s = 0.0; var j2 = 0
        while (j2 < c.length) { s += c(j2) * c(j2); j2 += 1 }
        s
      }
      if (java.lang.Double.compare(d, bestD) >= 0) { bestD = d; best = i }
      i += 1
    }
    best
  }

  /** Train PQ codebooks on a bounded deterministic sample (the lowest
    * `sampleMax` vec_ids, unitized) — per-subspace Lloyd's on the
    * driver, the FAISS practice (PQ codebooks are always trained on a
    * sample; the ENCODE pass is the distributed one). Fixed iteration
    * count and first-`ksub` init keep the model reproducible.
    */
  def trainPq(
      corpus: DataFrame, // (vec_id, vector)
      dim: Int,
      m: Int = 8,
      ksub: Int = 32,
      iters: Int = 10,
      sampleMax: Int = 20000): PqModel = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val dsub = dim / m
    val sample = corpus
      .select(col("vec_id"), col("vector").cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .orderBy(col("vec_id")).limit(sampleMax)
      .select(col("v")).collect()
      .map(r => unitize(r.getSeq[Double](0).toArray))
      .filter(v => v.exists(_ != 0.0))
    require(sample.nonEmpty, "PQ training needs at least one unit vector")
    val codebooks = (0 until m).map { s =>
      val off = s * dsub
      var cen: Seq[Array[Double]] =
        sample.take(ksub).map(v => v.slice(off, off + dsub)).toSeq
      for (_ <- 0 until iters) {
        val sums = Array.fill(cen.size)(new Array[Double](dsub))
        val counts = new Array[Long](cen.size)
        sample.foreach { v =>
          val best = assignL2(v, off, cen)
          var j = 0
          while (j < dsub) { sums(best)(j) += v(off + j); j += 1 }
          counts(best) += 1
        }
        // plain mean (PQ is L2 in the subspace — no renormalize);
        // empty cell keeps its centroid
        cen = cen.zipWithIndex.map { case (o, i) =>
          if (counts(i) == 0L) o else sums(i).map(_ / counts(i))
        }
      }
      cen
    }
    PqModel(dim, m, ksub, codebooks)
  }

  /** PQ codes (array of `m` ints) for an ALREADY-UNIT vector column —
    * per subspace, L2-nearest codebook entry via the native
    * [[graft.functions.ArgTopCells]] over the augmented form (ties to
    * the larger index; codegen, no UDF).
    */
  def pqCodes(unitVec: Column, pq: PqModel): Column =
    array((0 until pq.m).map { s =>
      element_at(
        graft.functions.GraftFunctions.argTopCells(
          concat(slice(unitVec, s * pq.dsub + 1, pq.dsub), array(lit(1.0))),
          augmentL2(pq.codebooks(s)), 1), 1)
    }: _*)

  /** The compressed index: `(vec_id, cell, codes)` — `m` ints per
    * vector instead of `dim` doubles. One distributed encode pass;
    * persist partitioned by cell exactly like [[index]].
    */
  def indexPq(
      corpus: DataFrame,
      centroids: Seq[Array[Double]],
      pq: PqModel): DataFrame =
    corpus
      .select(col("vec_id"), col("vector").cast("array<double>").as("v"))
      .withColumn("__n", Knn.norm(col("v")))
      .filter(col("__n") > 0) // no-direction rows: see Knn.bruteForceKnn
      .withColumn("__u", transform(col("v"), x => x / col("__n")))
      .select(col("vec_id"),
        bestCell(col("v"), centroids).as("cell"),
        pqCodes(col("__u"), pq).as("codes"))

  /** IVF-PQ top-k by ASYMMETRIC DISTANCE (ADC): the query stays
    * full-precision; per subspace it precomputes the `ksub` dots
    * against the codebook ONCE (a per-query LUT, one native
    * [[graft.functions.PqLookupTable]] built before the probe
    * fan-out), and scoring a corpus vector is `m` table lookups
    * summed — never a reconstruction, never a stored float vector.
    * `score ≈ cos(q, v)` because codes encode the UNIT corpus vector.
    * Output shape matches [[Knn.bruteForceKnn]]; ranking quality is
    * recall-floored in RECALL.json beside q_knn_ivf.
    */
  def searchIndexPq(
      queries: DataFrame,   // (query_id, vector)
      indexedPq: DataFrame, // (vec_id, cell, codes) — from [[indexPq]]
      centroids: Seq[Array[Double]],
      pq: PqModel,
      k: Int,
      nprobe: Int = 8): DataFrame = {
    val lut = graft.functions.GraftFunctions.pqLookupTable(
      col("qv"), pq.codebooks, pq.dsub)
    val q = broadcast(queries
      .select(col("query_id"), col("vector").cast("array<double>").as("qv"))
      .withColumn("qn", Knn.norm(col("qv")))
      .filter(col("qn") > 0)
      .withColumn("lut", lut) // once per query, BEFORE the cell explode
      .withColumn("cell", probeCellsExploded(col("qv"), centroids, nprobe))
      .select("query_id", "qn", "lut", "cell"))
    val adc = aggregate(
      zip_with(col("codes"), col("lut"),
        (code, l) => element_at(l, code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val scored = indexedPq.join(q, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(adc / col("qn"), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "score", "rank")
  }

  /** One-shot IVF-PQ top-k: coarse train + PQ train + encode + ADC
    * search. Deployment persists the three artifacts ([[centroidsDf]],
    * [[pqDf]], [[indexPq]]) and serves from [[searchIndexPq]].
    */
  def ivfPqKnn(
      queries: DataFrame,
      corpus: DataFrame,
      dim: Int,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 8,
      m: Int = 8,
      ksub: Int = 32,
      iters: Int = 5): DataFrame = {
    val nl = if (nlist > 0) nlist else autoNlist(corpus)
    val centroids = train(corpus, dim, nl, iters)
    val pq = trainPq(corpus, dim, m, ksub)
    searchIndexPq(queries, indexPq(corpus, centroids, pq), centroids, pq,
      k, nprobe)
  }

  /** PQ codebooks as a `(subspace, code, centroid)` DataFrame — the
    * persistable artifact; reload with [[pqFromDf]].
    */
  def pqDf(
      spark: org.apache.spark.sql.SparkSession, pq: PqModel): DataFrame = {
    import spark.implicits._
    (for {
      s <- pq.codebooks.indices
      c <- pq.codebooks(s).indices
    } yield (s, c, pq.codebooks(s)(c).toSeq))
      .toDF("subspace", "code", "centroid")
  }

  /** Reload a PQ model persisted via [[pqDf]]. */
  def pqFromDf(dim: Int, ksub: Int, df: DataFrame): PqModel = {
    val rows = df.select(col("subspace").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val codebooks = (0 until m).map(s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3).toSeq)
    PqModel(dim, m, ksub, codebooks)
  }
}
