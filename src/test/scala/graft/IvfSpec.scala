package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.similarity.{Ivf, Knn}

/** The persistable ANN index pinned four ways: store→load→query
  * identity for the IVF-Flat index (centroids + posting-list layout
  * through the TableStore, including the partition-pruned probe read),
  * exact ADC arithmetic for IVF-PQ (the asymmetric-distance score must
  * equal a sequential driver replay bit-for-bit), PQ model
  * store→load identity, and the compression invariant (codes are m
  * ints, never a stored float vector).
  */
class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private def emb = Tables.load(spark, sfDir, "embeddings")
  private def corpus =
    emb.select(col("vec_id"), col("embedding").as("vector"))
  private def queries =
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("vector"))

  private def resultSet(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("IVF-Flat index: store → load → query equals the live path") {
    val cen = Ivf.train(corpus, dim = 64, nlist = 16)
    val live = resultSet(
      Ivf.searchIndex(queries, Ivf.index(corpus, cen), cen, k = 10,
        nprobe = 4))
    // must also equal the one-shot convenience path (same train seed)
    assert(live == resultSet(
      Ivf.ivfKnn(queries, corpus, 64, 10, nlist = 16, nprobe = 4)),
      "searchIndex over a fresh index diverged from ivfKnn")

    val store = new graft.streaming.TableStore(
      java.nio.file.Files.createTempDirectory("ivf_store").toString)
    store.overwrite("ivf_centroids", Ivf.centroidsDf(spark, cen))
    // posting-list layout: hive-partitioned by cell, so a probe can
    // prune to its cells at the FILE level
    store.overwrite("ivf_index", Ivf.index(corpus, cen),
      partitionBy = Seq("cell"))
    val cen2 = Ivf.centroidsFromDf(store.read(spark, "ivf_centroids",
      StructType(Seq(StructField("cell", IntegerType),
        StructField("centroid", ArrayType(DoubleType))))))
    assert(cen2.map(_.toSeq) == cen.map(_.toSeq),
      "centroids drifted through the store")
    val idxSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("vector", ArrayType(DoubleType)),
      StructField("cell", IntegerType)))
    val reloaded = store.read(spark, "ivf_index", idxSchema)
    assert(resultSet(Ivf.searchIndex(queries, reloaded, cen2, 10, 4)) == live,
      "reloaded index answers differently — the index is not persistable")
    // the partition-pruned probe read: restricting the read to the
    // cells one query actually probes must reproduce that query's
    // answer exactly — the on-disk inverted-file property (a probe
    // touches nprobe of nlist partitions, never the full table)
    val q1 = queries.filter(col("query_id") === 1)
    val probedCells = q1
      .select(explode(graft.functions.GraftFunctions.argTopCells(
        col("vector").cast("array<double>"), cen2, 4)).as("cell"))
      .collect().map(_.getInt(0).toString).toSeq
    assert(probedCells.size == 4)
    val pruned = store.read(spark, "ivf_index", idxSchema,
      partValues = Some(probedCells))
    assert(
      resultSet(Ivf.searchIndex(q1, pruned, cen2, 10, 4)) ==
        resultSet(Ivf.searchIndex(q1, reloaded, cen2, 10, 4)),
      "partition-pruned probe read changed the answer")
  }

  test("IVF-PQ: ADC score equals the sequential driver replay exactly") {
    // tiny deterministic corpus so every (query, vector) pair survives
    // the top-k; nprobe = nlist ⇒ every cell probed ⇒ ADC scores for
    // ALL pairs are observable
    val vecs = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j =>
        math.sin(i * 8 + j + 1.0) + (if (j == i % 8) 2.0 else 0.0)))
    }
    val c = vecs.toDF("vec_id", "vector")
    val q = vecs.take(3).map { case (id, v) => (id, v) }
      .toDF("query_id", "vector")
    val cen = Ivf.train(c, dim = 8, nlist = 4)
    val pq = Ivf.trainPq(c, dim = 8, m = 4, ksub = 8, iters = 5)
    val got = Ivf.searchIndexPq(q, Ivf.indexPq(c, cen, pq), cen, pq,
        k = 40, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // driver replay with the exact expression fold orders: unitize the
    // corpus vector, per-subspace L2-nearest code (>= ties to larger
    // index over the augmented dot), ADC = Σ_s dot(q_sub, c_code)
    // accumulated in subspace order, / |q|, round 4
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      v.map(_ / n)
    }
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val byId = vecs.map { case (id, v) => id -> v.toArray }.toMap
    var checked = 0
    got.foreach { case ((qid, vid), score) =>
      val qv = byId(qid)
      var qn = 0.0
      qv.foreach(x => qn += x * x)
      val u = unit(byId(vid))
      var adc = 0.0
      for (s <- 0 until pq.m) {
        val code = {
          // re-derive the code the encoder must have picked
          var best = 0; var bestD = Double.NegativeInfinity
          for (ci <- pq.codebooks(s).indices) {
            val cb = pq.codebooks(s)(ci)
            var d = 0.0
            for (j <- 0 until pq.dsub) d += u(s * pq.dsub + j) * cb(j)
            var b2 = 0.0
            cb.foreach(x => b2 += x * x)
            d += -0.5 * b2
            if (java.lang.Double.compare(d, bestD) >= 0) {
              bestD = d; best = ci
            }
          }
          best
        }
        var dot = 0.0
        for (j <- 0 until pq.dsub)
          dot += qv(s * pq.dsub + j) * pq.codebooks(s)(code)(j)
        adc += dot
      }
      val want = round4(adc / math.sqrt(qn))
      assert(score == want,
        s"ADC drifted for ($qid,$vid): engine $score vs replay $want")
      checked += 1
    }
    assert(checked >= 3 * 30, s"too few pairs observable: $checked")
  }

  test("the native PQ lookup table equals the composed-expression form, " +
    "for query vectors shorter and longer than dim") {
    val c = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(j => math.cos(i * 8 + j + 0.5)))
    }.toDF("vec_id", "vector")
    val pq = Ivf.trainPq(c, dim = 8, m = 4, ksub = 8, iters = 3)
    // the form the expression replaced: m·ksub literal dot trees
    val composed = array((0 until pq.m).map { s =>
      array(pq.codebooks(s).map { cb =>
        graft.functions.GraftFunctions.vectorDot(
          slice(col("qv"), s * pq.dsub + 1, pq.dsub),
          array(cb.toSeq.map(lit(_)): _*))
      }: _*)
    }: _*)
    val native = graft.functions.GraftFunctions.pqLookupTable(
      col("qv"), pq.codebooks, pq.dsub)
    // lengths 0..11 cover empty, partial and missing subspaces and a
    // tail past dim
    val qs = (0 to 11).map(n => (n, (0 until n).map(j => math.sin(n + j * 1.7))))
      .toDF("n", "qv")
    val got = qs.select(col("n"), native.as("a"), composed.as("b")).collect()
    assert(got.length == 12)
    got.foreach { r =>
      assert(r.getSeq[Seq[Double]](1) == r.getSeq[Seq[Double]](2),
        s"lookup table drifted at query length ${r.getInt(0)}")
    }
  }

  test("searchIndexPq runs without a whole-stage codegen fallback") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val fallbacks = new java.util.concurrent.atomic.AtomicInteger
    val appender = new AbstractAppender("ivfspec-codegen", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .startsWith("Whole-stage codegen disabled")) fallbacks.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    try {
      // the q_knn_ivfpq shape: 16 subspaces of 32 codes over dim 64
      val cen = Ivf.train(corpus, dim = 64, nlist = 16)
      val pq = Ivf.trainPq(corpus, dim = 64, m = 16, ksub = 32)
      val got = Ivf.searchIndexPq(queries, Ivf.indexPq(corpus, cen, pq),
        cen, pq, k = 10, nprobe = 8).collect()
      assert(got.nonEmpty)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(fallbacks.get == 0,
      s"${fallbacks.get} stage(s) fell back to interpreted execution")
  }

  test("the PQ model persists and reloads through the table store") {
    val pq = Ivf.trainPq(corpus, dim = 64, m = 8, ksub = 32)
    val store = new graft.streaming.TableStore(
      java.nio.file.Files.createTempDirectory("pq_store").toString)
    store.overwrite("pq_codebooks", Ivf.pqDf(spark, pq))
    val re = Ivf.pqFromDf(64, 32, store.read(spark, "pq_codebooks",
      StructType(Seq(StructField("subspace", IntegerType),
        StructField("code", IntegerType),
        StructField("centroid", ArrayType(DoubleType))))))
    assert(re.m == pq.m && re.dsub == pq.dsub)
    assert(re.codebooks.map(_.map(_.toSeq)) ==
      pq.codebooks.map(_.map(_.toSeq)),
      "codebooks drifted through the store")
    val cen = Ivf.train(corpus, dim = 64, nlist = 16)
    val a = Ivf.indexPq(corpus, cen, pq).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](2)))
    val b = Ivf.indexPq(corpus, cen, re).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](2)))
    assert(a.sameElements(b), "reloaded codebooks encode differently")
  }

  test("the PQ index stores m small ints per vector, no float vectors") {
    val cen = Ivf.train(corpus, dim = 64, nlist = 16)
    val pq = Ivf.trainPq(corpus, dim = 64, m = 8, ksub = 32)
    val idx = Ivf.indexPq(corpus, cen, pq)
    assert(idx.schema.fieldNames.toSeq == Seq("vec_id", "cell", "codes"),
      "compressed index must not carry the raw vector")
    val codes = idx.select(col("codes")).head().getSeq[Int](0)
    assert(codes.size == 8 && codes.forall(c => c >= 0 && c < 32),
      s"codes out of range: $codes")
  }
}
