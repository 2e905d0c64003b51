package graft


import org.apache.spark.sql.functions._

import graft.text.QualityModel

/** The trainable quality filter, pinned the same three ways as BPE:
  * a sequential exact-decimal reference replay (bit-identical
  * weights), layout independence, a separation sanity check, and
  * committed sf0.01 goldens for the two no-DuckDB-oracle queries.
  */
class QualityModelSpec extends SparkTestBase {

  private def feats = QualityModel.features(col("text"))
  // long-form weak label — the same rule-to-smooth-score bootstrap as
  // the q_quality_model query (the driver corpus has no per-lang text
  // signal, so a length composite is the honest learnable target)
  private def label =
    (graft.text.TextOps.tokenCount(col("text")) >= 60).cast("double")

  test("train matches a sequential exact-decimal reference bit-for-bit") {
    val docs = Tables.load(spark, sfDir, "documents")
    val iters = 8; val lr = 0.5
    val w = QualityModel.train(docs, feats, label, iters, lr)

    // replay on the COLLECTED feature projection: per-row doubles in
    // the same operation order as the column expressions, partial
    // sums through the same round-to-9dp→decimal lattice (HALF_UP on
    // java BigDecimal.valueOf — the Spark round() path). Decimal
    // addition is exact, so ANY summation order must give identical
    // weights.
    def dec(v: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP)
    val d = feats.size
    val rows = docs
      .select(feats.map(_._2) :+ label.as("y"): _*)
      .na.drop() // mirror train()'s null-row exclusion
      .collect()
      .map(r => ((0 until d).map(r.getDouble).toArray, r.getDouble(d)))
    val n = rows.length.toDouble
    // standardization stats, same decimal discipline
    val sAcc = Array.fill(d)(java.math.BigDecimal.ZERO)
    val qAcc = Array.fill(d)(java.math.BigDecimal.ZERO)
    for ((x, _) <- rows; i <- 0 until d) {
      sAcc(i) = sAcc(i).add(dec(x(i)))
      qAcc(i) = qAcc(i).add(dec(x(i) * x(i)))
    }
    val mean = new Array[Double](d)
    val scale = new Array[Double](d)
    for (i <- 0 until d) {
      val m = QualityModel.latticeDouble(sAcc(i)) / n
      val v = QualityModel.latticeDouble(qAcc(i)) / n - m * m
      if (v > 1e-12) { mean(i) = m; scale(i) = math.sqrt(v) }
      else { mean(i) = 0.0; scale(i) = 1.0 }
    }
    val wz = new Array[Double](d)
    for (_ <- 0 until iters) {
      val acc = Array.fill(d)(java.math.BigDecimal.ZERO)
      for ((x, y) <- rows) {
        var margin = 0.0
        var i = 0
        while (i < d) {
          margin += (x(i) - mean(i)) / scale(i) * wz(i); i += 1
        }
        val err = QualityModel.sigmoidScalar(margin) - y
        i = 0
        while (i < d) {
          acc(i) = acc(i).add(dec(err * ((x(i) - mean(i)) / scale(i))))
          i += 1
        }
      }
      for (i <- 0 until d) wz(i) -= lr * (QualityModel.latticeDouble(acc(i)) / n)
    }
    val ref = new Array[Double](d)
    var shift = 0.0
    for (i <- 0 until d) {
      ref(i) = wz(i) / scale(i)
      shift += wz(i) * mean(i) / scale(i)
    }
    ref(0) -= shift
    assert(w.toSeq == ref.toSeq,
      s"distributed ${w.toSeq} vs sequential ${ref.toSeq}")
  }

  test("local fast path and distributed loop learn identical weights") {
    // train() takes the driver-bounded local path below the
    // LocalMaxRows gate (always at test scale); pin it
    // bit-identical to the distributed aggregation loop it replaced
    // there, on the same feature frame
    val docs = Tables.load(spark, sfDir, "documents")
    val iters = 8; val lr = 0.5
    val wLocal = QualityModel.train(docs, feats, label, iters, lr)
    val d = feats.size
    val cols = feats.zipWithIndex.map { case ((_, c), i) => c.as(s"x$i") }
    val frame = docs
      .select(cols :+ label.cast("double").as("y"): _*).na.drop()
    val wDist = QualityModel.trainDistributed(frame, d, iters, lr)
    assert(wLocal.toSeq == wDist.toSeq,
      s"local ${wLocal.toSeq} vs distributed ${wDist.toSeq}")
  }

  test("training is layout-independent") {
    val docs = Tables.load(spark, sfDir, "documents")
    val w1 = QualityModel.train(docs, feats, label, iters = 5)
    val w2 = QualityModel.train(docs.repartition(13), feats, label, iters = 5)
    assert(w1.toSeq == w2.toSeq, "weights depend on partitioning")
  }

  test("learned scores separate the weak-label classes") {
    val docs = Tables.load(spark, sfDir, "documents")
    val w = QualityModel.train(docs, feats, label, iters = 25)
    val scored = docs.select(label.as("y"),
      QualityModel.scoreColumn(feats, w).as("score"))
    val means = scored.groupBy("y").agg(avg("score").as("m"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(means(1.0) > means(0.0),
      s"no separation: en=${means(1.0)} other=${means(0.0)}")
  }

  test("model artifacts persist and reload through the table store") {
    // weights and vocab are just small tables: store them in the
    // engine's own versioned TableStore and rebuild the scorer from
    // the reloaded frame — the deployment story for trained filters
    val docs = Tables.load(spark, sfDir, "documents")
    val w = QualityModel.train(docs, feats, label, iters = 5)
    val store = new graft.streaming.TableStore(
      java.nio.file.Files.createTempDirectory("qm_store").toString)
    store.overwrite("quality_weights",
      QualityModel.weightsDf(spark, feats, w))
    val reloaded = store
      .read(spark, "quality_weights", QualityModel.weightsSchema)
      .orderBy("idx").collect()
      .map(_.getAs[Double]("weight"))
    assert(reloaded.toSeq == w.toSeq, "weights drifted through the store")
    val a = docs.select(QualityModel.scoreColumn(feats, w).as("s"))
      .agg(sum("s")).head().getDouble(0)
    val b = docs.select(QualityModel.scoreColumn(feats, reloaded).as("s"))
      .agg(sum("s")).head().getDouble(0)
    assert(a == b, "reloaded scorer disagrees with the in-memory one")
  }

  // committed sf0.01 goldens — belt-and-braces beside the DuckDB
  // oracle (OracleQuality replays the full training since round 10):
  // the goldens catch a drift even when the oracle harness is down
  test("q_quality_model matches its committed sf0.01 golden output") {
    checkGoldenTsv("q_quality_model")
  }
  test("q_quality_scores matches its committed sf0.01 golden output") {
    checkGoldenTsv("q_quality_scores")
  }
}
