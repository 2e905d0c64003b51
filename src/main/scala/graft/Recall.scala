package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hard quality signal for the approximate (no-DuckDB-oracle) queries:
  * recall/precision of every approximate path against its exact
  * ground-truth twin, computed on the same data the correctness pass
  * uses, with asserted floors — so "rows-only" queries still carry a
  * machine-checkable verdict in the artifacts (VERDICT r2 ask #4).
  *
  * The approximate side of each pair metric is the registered query's
  * own frame (`SparkEntry.queries`), so the gate cannot drift from the
  * query it gates. Ground truths are the engine's own exact operators,
  * each separately DuckDB-oracle-checked (q_ngram_jaccard_pairs,
  * q_embedding_neardup, q_knn_bruteforce) or bit-exact by
  * construction (all-pairs Hamming over the SimHash values; uncapped
  * winnowing fingerprint join).
  *
  * Emits one JSON object keyed by query name:
  * `{"recall":…,"precision":…,"recall_floor":…,"pass":…,
  *   "truth_pairs":…,"emitted":…}`; [[main]] exits non-zero if any
  * floor is violated, so a recall regression fails the run the same
  * way a wrong answer would.
  */
object Recall {

  final case class Metric(
      query: String,
      recall: Double,
      precision: Option[Double],
      recallFloor: Double,
      truth: Long,
      emitted: Long) {
    def pass: Boolean = recall >= recallFloor
  }

  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def pairMetric(
      name: String, truth: Set[(Long, Long)], got: Set[(Long, Long)],
      floor: Double): Metric = {
    val hit = (truth & got).size.toDouble
    Metric(name,
      recall = if (truth.isEmpty) 1.0 else hit / truth.size,
      precision = if (got.isEmpty) None else Some(hit / got.size),
      recallFloor = floor, truth = truth.size.toLong, emitted = got.size.toLong)
  }

  /** All metrics at one sf dir. Collects only pair/neighbor id sets —
    * ground-truth-sized, fine at verification scale (the production
    * paths themselves never collect).
    */
  def metrics(spark: SparkSession, sfDir: String): Seq[Metric] = {
    import graft.dedup.Dedup
    import graft.similarity.Knn
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    // recall of registered query `q`'s (a, b) pairs against `truth`
    def approx(q: String, truth: Set[(Long, Long)], a: String, b: String,
        floor: Double): Metric =
      pairMetric(q, truth, pairSet(SparkEntry.queries(q)(spark, sfDir), a, b),
        floor)

    // -- MinHash estimate-only vs exact n-gram Jaccard ≥ 0.8 --
    val jaccardTruth = pairSet(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8), "doc_a", "doc_b")
    val mh = approx("q_minhash_est", jaccardTruth, "doc_a", "doc_b",
      floor = 0.9)

    // -- SimHash banding vs all-pairs Hamming ≤ 7 (pigeonhole ⇒ the
    //    banded form is exhaustive up to the skew-guard cap) --
    val hashed = docs.select(col("doc_id"),
      Dedup.simhash(col("text")).as("sh"))
    val a = hashed.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = hashed.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val simTruth = pairSet(
      a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
        .filter(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 7),
      "doc_a", "doc_b")
    val sim = approx("q_simhash_pairs", simTruth, "doc_a", "doc_b",
      floor = 0.99)

    // -- winnowing overlap vs the uncapped fingerprint join --
    val winTruth = pairSet(
      Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        maxBucket = Int.MaxValue),
      "doc_a", "doc_b")
    val win = approx("q_doc_winnow_overlap", winTruth, "doc_a", "doc_b",
      floor = 0.95)

    // -- embedding LSH vs exact all-pairs cosine ≥ 0.4 --
    val embTruth = pairSet(
      Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.4), "id_a", "id_b")
    val embLsh = approx("q_embedding_neardup_lsh", embTruth, "id_a", "id_b",
      floor = 0.75) // measured 0.86 at 12 OR-tables (was 0.75 at 8)
    val embIvf = approx("q_embedding_neardup_ivf", embTruth, "id_a", "id_b",
      // auto-nlist (≈√n) + nprobe=6: measured 1.0 at sf0.01 AND 0.96
      // at sf0.1 — the fixed nlist=64 dial this replaces decayed to
      // 0.77 at sf0.1 (recall tracks nprobe/nlist, and fixed nlist
      // densifies with the corpus)
      floor = 0.9)

    // -- ANN recall@10 vs brute force (neighbor sets per query id) --
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("vector"))
    val corpus = emb.select(col("vec_id"), col("embedding").as("vector"))
    val knnTruth = pairSet(
      Knn.bruteForceKnn(queries, corpus, 10), "query_id", "vec_id")
    val knnLsh = approx("q_knn_lsh", knnTruth, "query_id", "vec_id",
      floor = 0.75)
    val knnIvf = approx("q_knn_ivf", knnTruth, "query_id", "vec_id",
      floor = 0.75)
    // IVF-PQ: compressed codes + asymmetric-distance ranking — the
    // lossy trade is recall, so it carries its own (lower) floor; ADC
    // arithmetic itself is pinned exactly in IvfSpec
    val knnIvfPq = approx("q_knn_ivfpq", knnTruth, "query_id", "vec_id",
      floor = 0.6)

    // -- learned quality filter: predictive floor for the no-oracle
    //    model queries (q_quality_model / q_quality_scores). Same
    //    training config as SparkEntry; "recall" here is TRAIN-SET
    //    ACCURACY of the 0.5-thresholded sigmoid against the weak
    //    label, "precision" the class-mean score separation — a
    //    silently degenerate learner (all-one-class, zero weights)
    //    fails this floor at the driver gate, not just in the local
    //    suite (VERDICT r6 ask #8).
    val qmFeats = graft.text.QualityModel.features(col("text"))
    val qmLabel =
      (graft.text.TextOps.tokenCount(col("text")) >= 60).cast("double")
    val qmW = graft.text.QualityModel.train(
      docs, qmFeats, qmLabel, iters = 15, lr = 0.8)
    val qmScored = docs.select(qmLabel.as("y"),
      graft.text.QualityModel.scoreColumn(qmFeats, qmW).as("s"))
    val qmRow = qmScored.agg(
      avg(((col("s") >= 0.5).cast("double") === col("y")).cast("double"))
        .as("acc"),
      avg(when(col("y") === 1.0, col("s"))).as("m1"),
      avg(when(col("y") === 0.0, col("s"))).as("m0"),
      count(lit(1)).as("n")).head()
    // a one-class fixture leaves the other class mean NULL — report
    // zero separation (a failing-floor signal the artifact can carry)
    // instead of NPE-ing the whole driver recall gate
    val sep =
      if (qmRow.isNullAt(1) || qmRow.isNullAt(2)) 0.0
      else qmRow.getDouble(1) - qmRow.getDouble(2)
    val qm = Metric("q_quality_model",
      recall = qmRow.getDouble(0),
      precision = Some(sep),
      recallFloor = 0.9,
      truth = qmRow.getLong(3),
      emitted = qmRow.getLong(3))
    // q_quality_scores is the APPLY surface of the same training run
    // (scoreColumn over the identical weights — the scores in
    // `qmScored` ARE the column the query emits), so it carries its
    // own floor row with the same thresholded-accuracy gate, the
    // q_bm25_search_indexed shares-the-oracle precedent; it is also
    // golden-pinned (q_quality_scores_sf0.01.tsv, QualityModelSpec).
    val qsApply = Metric("q_quality_scores",
      recall = qmRow.getDouble(0),
      precision = Some(sep),
      recallFloor = 0.9,
      truth = qmRow.getLong(3),
      emitted = qmRow.getLong(3))

    // -- deterministic k-means: internal objective floor. The
    //    synthetic labels overlap too much for purity to discriminate
    //    (even the SUPERVISED nearest-label-centroid rule scores only
    //    0.41 here), so the gate is the unsupervised one: relative
    //    WCSS reduction from the seed centroids after 5 Lloyd's
    //    iterations — measured 0.42 at sf0.01 AND sf0.1, floor 0.3; a
    //    broken assignment or update breaks monotone descent and lands
    //    near 0. "precision" reports label purity (informational).
    import graft.similarity.KMeans
    def sqDistTo(v: Column, c: Array[Double]): Column =
      aggregate(
        zip_with(v, array(c.map(lit(_)): _*), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def wcss(cen: Seq[Array[Double]]): Double =
      emb.select(col("embedding").cast("array<double>").as("v"))
        .select(least(cen.map(c => sqDistTo(col("v"), c)): _*).as("d"))
        .agg(sum(col("d"))).head().getDouble(0)
    val kmSeeds = KMeans.seeds(emb, "vec_id", "embedding", 10)
    val kmCen = KMeans.train(emb, "vec_id", "embedding",
      k = 10, dim = 64, iters = 5)
    // float-sum WCSS is order-dependent in the last ulps — fine for a
    // floor-gated metric. Degenerate corpus (every vector a seed) has
    // seed WCSS 0: training cannot reduce an already-zero objective,
    // so report full reduction instead of 0/0 = NaN failing the floor.
    val seedWcss = wcss(kmSeeds)
    val kmReduction =
      if (seedWcss == 0.0) 1.0 else 1.0 - wcss(kmCen) / seedWcss
    val kmAssigned = KMeans.assign(emb, "embedding", kmCen)
    val kmRow = kmAssigned.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster")).agg(max(col("n")).as("top"),
        sum(col("n")).as("all"))
      .agg(sum(col("top")).as("hit"), sum(col("all")).as("n")).head()
    val km = Metric("q_kmeans_assign",
      recall = kmReduction,
      precision = Some(kmRow.getLong(0).toDouble / kmRow.getLong(1)),
      recallFloor = 0.3,
      truth = kmRow.getLong(1), emitted = kmRow.getLong(1))

    // -- PCA: variance explained by the top-8 of 64 components — the
    //    internal objective for the no-oracle q_pca_project. The
    //    isotropic (no-structure / broken-moments) baseline is
    //    8/64 = 0.125; the synthetic embeddings measure 0.2049 at
    //    sf0.01 and 0.1598 at sf0.1 (numpy-confirmed), so 0.14 holds
    //    at both scales while sitting above the degenerate value.
    //    "precision" reports the worst pairwise |dot| among the kept
    //    components (orthogonality; 0 is perfect).
    val pcaModel = graft.similarity.Pca.fit(emb, "embedding", 64, 8)
    val pcaOrtho = (for {
      (a, i) <- pcaModel.components.zipWithIndex
      (b, j) <- pcaModel.components.zipWithIndex if j > i
    } yield math.abs(a.zip(b).map { case (x, y) => x * y }.sum))
      .foldLeft(0.0)(math.max)
    val pca = Metric("q_pca_project",
      recall = pcaModel.varianceExplained(8),
      precision = Some(pcaOrtho),
      recallFloor = 0.14,
      truth = 64L, emitted = pcaModel.components.size.toLong)

    // -- image pHash near-dup vs the PLANTED ground truth: the synth
    //    fixture constructs (2k, 2k+1) as near-duplicate image pairs
    //    (4 pixels bumped +8), so the truth set is external to the
    //    operator — recall is "did the banded radius-3 hash join find
    //    the pairs that were, by construction, near-duplicates".
    //    Measured: every planted pair within Hamming 2 at the test
    //    scales (PhashSpec histogram); floor 0.95 leaves room for an
    //    unlucky coefficient-near-median id. Precision reads low by
    //    design and is informational: accidental (unplanted) close
    //    hashes are CORRECT radius-3 emissions, not errors — the
    //    hash-exact DuckDB oracle certifies them pair for pair.
    val plantedPairs = docs.select((col("doc_id") - col("doc_id") % 2)
        .as("doc_a"), col("doc_id"))
      .groupBy(col("doc_a")).agg(count(lit(1)).as("n"))
      .filter(col("n") === 2)
      .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"))
    val plantedTruth = pairSet(plantedPairs, "doc_a", "doc_b")
    val phash = approx("q_image_neardup", plantedTruth, "id_1", "id_2",
      floor = 0.95)

    // -- video near-dup vs the same planted (2k, 2k+1) truth: the odd
    //    clip is the even clip with one frame lightly edited; recall
    //    is "did frame pHash → majority signature → banded radius-3
    //    join find the planted clip pairs". A frame edit of ≤ k hash
    //    bits moves the signature ≤ k bits, so the image family's
    //    floor carries over.
    val vid = approx("q_video_neardup", plantedTruth, "id_1", "id_2",
      floor = 0.95)

    // -- audio near-dup vs the same planted (2k, 2k+1) truth: the odd
    //    clip shares the even clip's waveform with 4 samples bumped
    //    +8192; recall is "did windowed-energy delta fingerprint →
    //    banded radius-3 join find the planted clip pairs". The bump
    //    moves any window sum ≤ 32768 against typical adjacent-window
    //    gaps of ~2e5, so the image family's floor carries over.
    val aud = approx("q_audio_neardup", plantedTruth, "id_1", "id_2",
      floor = 0.95)

    Seq(mh, sim, win, embLsh, embIvf, knnLsh, knnIvf, knnIvfPq, qm,
      qsApply, km, pca, phash, vid, aud)
  }

  def toJson(ms: Seq[Metric]): String =
    ms.map { m =>
      val p = m.precision.map(v => f"$v%.4f").getOrElse("null")
      s""""${m.query}":{"recall":${f"${m.recall}%.4f"},"precision":$p,""" +
        s""""recall_floor":${m.recallFloor},"pass":${m.pass},""" +
        s""""truth_pairs":${m.truth},"emitted":${m.emitted}}"""
    }.mkString("{", ",", "}")

  def write(spark: SparkSession, sfDir: String, outPath: String): Seq[Metric] = {
    val ms = metrics(spark, sfDir)
    Files.writeString(Paths.get(outPath), toJson(ms) + "\n")
    ms
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "RECALL.json"
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ms = write(spark, sfDir, out)
    ms.foreach(m => println(
      f"${m.query}%-28s recall=${m.recall}%.4f floor=${m.recallFloor} pass=${m.pass}"))
    spark.stop()
    if (ms.exists(!_.pass)) sys.exit(1)
  }
}
