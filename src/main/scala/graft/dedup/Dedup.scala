package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Pins
import graft.text.TextOps

/** Document deduplication operators: exact, MinHash+LSH (estimate and
  * exactly-verified forms), SimHash, exact n-gram Jaccard, winnowing
  * partial-overlap, embedding-cosine near-dup (exact + LSH-bucketed),
  * near-dup clustering, and whole-corpus collapse.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup: one hash-shuffle on the 16-byte fingerprint, never
  *    on the document text;
  *  - MinHash: the signature (k longs) is computed map-side from the
  *    shingle set — the only shuffled payload is (doc_id, band_hash,
  *    signature), independent of document size;
  *  - LSH banding: candidate generation is a self-join *within* band
  *    buckets, so its cost is Σ bucket² — bounded by capping
  *    pathological buckets (`maxBucket`), the standard skew guard;
  *  - exact Jaccard is reserved for candidate verification, never run
  *    all-pairs at scale (the all-pairs form exists for small inputs
  *    and as the correctness oracle for the approximate paths).
  */
object Dedup {

  /** Word n-gram shingles (distinct). Documents shorter than n tokens
    * contribute their whole token sequence as a single shingle.
    * This is the string form (readable, oracle-matching); the hot
    * pipelines use [[shingleHashes]], which produces xxhash64 of
    * exactly these strings without materializing them.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array(array_join(toks, " "))))
  }

  /** Sorted distinct xxhash64 values of the word n-gram shingles, via
    * the native one-pass [[graft.functions.ShingleHashes]] — value-
    * identical to `transform(shingles(text, n), xxhash64)` (proven in
    * DedupSpec), ~none of its intermediate string churn.
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleHashes(text, n)

  /** Exact dedup by content fingerprint: one row per distinct text,
    * keeping the smallest doc_id (deterministic winner).
    * One shuffle, keyed on the 16-byte md5 — never on the text.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  /** k-element MinHash signature of a shingle array, via the native
    * one-pass Catalyst expression
    * [[graft.functions.MinHashSignature]] (the round-1 form — k
    * separate `aggregate` HOF folds — was 63% of the whole bench).
    * Computed map-side, no shuffle; only `xxhash64` per shingle plus
    * one O(k·|shingles|) JVM loop.
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    graft.functions.GraftFunctions.minhashSignature(
      transform(shingleArr, s => xxhash64(s)), k)

  /** LSH band keys over a signature: band i hashes signature positions
    * [i·r, (i+1)·r) together with the band index, yielding a compact
    * 8-byte key (round 1 shuffled position-tagged concat strings).
    */
  private def bandKeys(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { i =>
      xxhash64(lit(i), slice(sig, i * r + 1, r))
    }: _*)

  /** Skew guard: drop LSH buckets larger than `maxBucket` (a degenerate
    * shingle — e.g. boilerplate — would otherwise make one bucket
    * quadratic). `groupBy.count` + broadcast anti-join of the oversized
    * keys: the oversized-key set is tiny by construction, and unlike
    * round 1's window-count guard this adds no sort and no second
    * shuffle of the banded rows.
    */
  /** Keys of buckets larger than `maxBucket` — tiny by construction
    * (one map-side-combined count; few keys can exceed the cap).
    */
  private def oversizedKeys(
      banded: DataFrame, keyCol: String, maxBucket: Int): DataFrame =
    banded.groupBy(col(keyCol)).count()
      .filter(col("count") > maxBucket)
      .select(col(keyCol))

  private def dropOversizedBuckets(
      banded: DataFrame, keyCol: String, maxBucket: Int): DataFrame =
    banded.join(broadcast(oversizedKeys(banded, keyCol, maxBucket)),
      Seq(keyCol), "left_anti")

  /** Candidate near-dup pairs from MinHash-LSH banding: a pair is a
    * candidate if any band agrees. Output (doc_a, doc_b), deduplicated.
    */
  private[graft] def minhashCandidates(
      signed: DataFrame, // (doc_id, sig)
      bands: Int,
      r: Int,
      maxBucket: Int): DataFrame = {
    val banded = signed.select(
      col("doc_id"), explode(bandKeys(col("sig"), bands, r)).as("band_key"))
    val ok = dropOversizedBuckets(banded, "band_key", maxBucket)
    ok.select(col("band_key"), col("doc_id").as("doc_a"))
      .join(ok.select(col("band_key"), col("doc_id").as("doc_b")),
        Seq("band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * @param numHashes signature length k
    * @param bands     b bands of r = k/b rows: a pair becomes a
    *                  candidate if any band matches; P(candidate) =
    *                  1-(1-j^r)^b
    * @param threshold minimum estimated Jaccard (fraction of agreeing
    *                  signature positions) for an emitted pair
    * @param maxBucket skew guard: LSH buckets larger than this are
    *                  dropped (a degenerate shingle — e.g. boilerplate
    *                  — would otherwise make one bucket quadratic)
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // signature table: small (id + k longs), read twice by the bucket
    // self-join — materialized once so shingling/hashing runs once per
    // document. At cluster scale this is the signature table you would
    // materialize to storage anyway.
    val signed = docs.select(
      col(idCol).as("doc_id"),
      graft.functions.GraftFunctions.minhashSignature(
        shingleHashes(col(textCol), shingleLen), numHashes).as("sig"))
      .transform(Pins.materializeOnce)

    minhashCandidates(signed, bands, r, maxBucket)
      .join(signed.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(signed.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        Seq("doc_b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** MinHash-LSH near-dup detection with EXACT verification: banding
    * proposes candidates, then the true n-gram Jaccard is computed for
    * candidates only and pairs ≥ threshold are emitted.
    *
    * This is the production shape at 100 TB — the quadratic exact
    * computation runs only within the candidate set (linear-ish in
    * corpus size for bounded near-dup rates), never all-pairs — and it
    * is exactly oracle-checkable: with r=2/bands=32 banding, a pair at
    * Jaccard ≥ 0.8 escapes every band with probability (1−0.8²)³²
    * ≈ 6·10⁻¹⁵, so the output equals the all-pairs ground truth
    * ([[ngramJaccardPairs]]) up to that vanishing probability.
    */
  def minhashLshVerified(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // (doc_id, shingle-hash set) feeds both signature and verification;
    // materialized once so the text is shingled once. Verification
    // intersects hash sets — equal to the string-set intersection up
    // to 64-bit collisions (P ≈ n²·2⁻⁶⁴).
    val sh = shingleTable(docs, idCol, textCol, shingleLen)
    val signed = sh.select(
      col("doc_id"),
      graft.functions.GraftFunctions.minhashSignature(col("sh"), numHashes)
        .as("sig"))

    minhashCandidates(signed, bands, r, maxBucket)
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------
  // Exact n-gram Jaccard (all-pairs form: oracle / verification path)
  // ---------------------------------------------------------------

  /** Exact word-n-gram Jaccard similarity pairs ≥ threshold.
    *
    * explode-shingles → self-join on shingle → |A∩B| per pair →
    * j = common / (|A|+|B|−common). Integer counts divide to bitwise-
    * identical doubles on any engine, so this is the cross-engine-
    * checkable ground truth for the MinHash path. All-pairs on shared
    * shingles — quadratic in hot-shingle bucket size; at corpus scale
    * use [[ngramJaccardPairsPrefix]] (identical output, prefix-
    * filtered) or run this only on LSH candidates.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // the shingle-hash table feeds sizes + both self-join sides —
    // materialized once so tokenization/shingling runs once. Joining
    // on the 8-byte hash instead of the string is ~3× less shuffle
    // payload; a cross-doc 64-bit collision (P ≈ n²·2⁻⁶⁴) is the same
    // tolerance every hash-join engine accepts
    val sh = shingleTable(docs, idCol, textCol, shingleLen)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val expl = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val common = expl.as("x").join(expl.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric near-dup measure
    * Jaccard misses: a 100-line document pasted inside a 10,000-line
    * one has Jaccard ≈ 0.01 but containment ≈ 1.0. Per unordered
    * pair, containment = |∩| / min(|A|, |B|) (the smaller side's
    * coverage — "is either document essentially a subset of the
    * other"), the standard screen for quote-inclusion / template
    * wrapping / partial scrapes in a training corpus.
    *
    * Same candidate plan as [[ngramJaccardPairs]] (shared-shingle
    * hash join + intersection count; 64-bit shingle-hash tolerance
    * documented there), same quadratic hot-shingle caveat — at
    * corpus scale run it on LSH candidates or behind the prefix
    * filter; as a certifying query it is the verification-scale twin.
    * Emits `(doc_a, doc_b, containment)` with doc_a < doc_b.
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, shingleLen)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val expl = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val common = expl.as("x").join(expl.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"))
      .withColumn("containment",
        col("common").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
      // the thresholded pair table is the bounded output — checkpointed,
      // the shingle checkpoint has no reader once the call returns
      .localCheckpoint()
  }

  /** Label-propagation steps [[nearDupClusters]] chains lazily
    * between two localCheckpoints.
    */
  private val ClusterSpan = 3

  /** Near-dup CLUSTERS from a pair list: connected components by
    * iterative min-label propagation — each document ends up labeled
    * with the smallest doc id reachable through near-dup pairs, which
    * is the canonical representative to keep when collapsing a corpus.
    *
    * Scale: the GraphFrames/Pregel shape without the dependency — per
    * iteration one edge-label join + min-aggregate (all hash-partitioned
    * on doc id), converging in O(component diameter) iterations;
    * near-dup clusters are shallow (diameter ≲ 5) so the loop is short.
    *
    * Driver syncs are amortized (VERDICT r2 "What's wrong #6"): the
    * loop runs [[ClusterSpan]] propagation steps as ONE lazily-chained
    * plan, then takes a single localCheckpoint + convergence probe for
    * the whole span — ~2 driver-synchronized jobs per span instead of
    * per iteration. Probing only the LAST step's change flag is sound:
    * propagation is monotone, so a step that changes nothing proves
    * the fixpoint.
    */
  def nearDupClusters(
      pairs: DataFrame, // (doc_a, doc_b), doc_a < doc_b
      maxIter: Int = 20,
      driverMaxPairs: Long = 1000000L): DataFrame = {
    // Bounded small-graph fast path: near-dup PAIR volume is already
    // the (distributed) LSH+verify output — orders of magnitude smaller
    // than the corpus — and label propagation over a sub-million-edge
    // graph is microseconds of union-find against 10+ scheduled jobs
    // for the distributed loop (~4.6 s of pure overhead at sf0.1).
    // ONE limited collect (graft.ops.DriverLocal) decides the path and
    // feeds the fast one (order 100 MB of boxed Rows at the 1M
    // default); only an overflow — a corpus-scale graph — re-evaluates
    // into the distributed loop below. driverMaxPairs=0 forces the
    // distributed path.
    // Integral id types only (a lossless long cast); any other id type
    // goes straight to the fully generic distributed loop.
    // materialize the pair list ONCE before anything probes it: the
    // input is typically the full near-dup pipeline (synth + hash +
    // banded join), and the path-probe's limit+collect plus the
    // loop's repeated edge reads would otherwise re-execute that
    // whole upstream per reference (measured: the pHash cluster query
    // cost 2.7× its own pair query at 10× before this). The pair
    // table is the operator's bounded output — checkpointing it is
    // the house materialize-then-reuse style.
    val mat = pairs.localCheckpoint()
    val integralIds = Seq("doc_a", "doc_b").forall(c =>
      mat.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      })
    val probe =
      if (!integralIds) None
      else graft.ops.DriverLocal.collect(
        mat.select(col("doc_a").cast("long"), col("doc_b").cast("long")),
        driverMaxPairs)
    if (probe.isDefined) {
      return driverClusters(probe.get.map(r => (r.getLong(0), r.getLong(1))),
        mat.schema("doc_a").dataType, mat.sparkSession)
    }
    val edges = mat.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(mat.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val steps = math.min(ClusterSpan, maxIter - iter)
      var cur = labels
      var last: DataFrame = null
      for (_ <- 1 to steps) {
        val neighborMin = edges
          .join(cur.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("cluster_id")).as("nmin"))
        last = cur.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
              .as("cluster_id"),
            (col("nmin") < col("cluster_id")).as("ch"))
        cur = last.drop("ch")
      }
      val cp = last.localCheckpoint()
      converged = cp.filter(col("ch")).isEmpty
      labels = cp.drop("ch")
      iter += steps
    }
    edges.unpersist()
    labels
  }

  /** Min-label connected components by union-find on the driver —
    * identical output contract to the distributed loop (`doc_id`,
    * `cluster_id` = min reachable id, input column type preserved).
    * Only reachable through [[nearDupClusters]]'s bounded fast path.
    */
  private def driverClusters(
      edges: Array[(Long, Long)],
      idType: org.apache.spark.sql.types.DataType,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.toSeq.map(id => org.apache.spark.sql.Row(id, find(id)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toIndexedSeq, 1), schema)
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Collapse a corpus to one canonical document per near-dup cluster:
    * every cluster member except its representative is dropped. The
    * end-to-end dedup semantic — candidates from LSH, exact
    * verification, clustering, then an anti-join that scales as a
    * broadcast of the (small) removal set.
    *
    * Representative selection: by default the minimum-id member
    * (stable, content-blind). Pass `keepBy` (a numeric column over
    * `docs`, higher = better; NULL loses to any value; ties keep the
    * smallest id) to keep the BEST copy instead — the C4/RefinedWeb
    * rule of keeping the longest or highest-quality near-duplicate
    * rather than an arbitrary one. The selection aggregations run
    * over the cluster-membership table (bounded by the near-dup
    * volume, the same set the anti-join broadcasts), never the
    * corpus.
    */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keepBy: Option[Column] = None): DataFrame = {
    val clusters = nearDupClusters(
      minhashLshVerified(docs, idCol, textCol).select("doc_a", "doc_b"))
    val losers = keepBy match {
      case None =>
        clusters.filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as(idCol))
      case Some(k) =>
        // persisted: the membership-bounded table feeds three joins
        // (max per cluster, the tie filter, the winner anti-filter) —
        // uncached, each would rescan the corpus side of this join
        val scored = clusters.join(
          docs.select(col(idCol).as("doc_id"),
            coalesce(k.cast("double"), lit(Double.NegativeInfinity))
              .as("__graft_keep")),
          Seq("doc_id")).persist()
        try {
          // exact equality on an UNCOMPUTED double (the column value
          // round-trips both joins untouched) is engine-safe
          val winners = scored
            .join(scored.groupBy("cluster_id")
              .agg(max(col("__graft_keep")).as("__graft_best")),
              Seq("cluster_id"))
            .filter(col("__graft_keep") === col("__graft_best"))
            .groupBy(col("cluster_id"))
            .agg(min(col("doc_id")).as("__graft_winner"))
          // the loser set is bounded by the near-dup volume (it is
          // what the anti-join below broadcasts), so materializing it
          // eagerly is cheap — and it frees the scored cache instead
          // of leaking one pinned DataFrame per compaction cycle
          scored.join(winners, Seq("cluster_id"))
            .filter(col("doc_id") =!= col("__graft_winner"))
            .select(col("doc_id").as(idCol))
            .localCheckpoint()
        } finally scored.unpersist()
    }
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** 64-bit SimHash over word-3-gram shingle hashes (majority vote per
    * bit), via the native Catalyst expression
    * [[graft.functions.SimHash64]]. Shingles rather than unigrams:
    * unigram SimHash is order-insensitive and collapses any two
    * documents sharing vocabulary; shingles track local word order,
    * aligning the measure with n-gram Jaccard.
    * Near-dup = small Hamming distance (`bit_count(a ^ b)`).
    */
  def simhash(text: Column, shingleLen: Int = 3): Column =
    graft.functions.GraftFunctions.simhash64(
      shingleHashes(text, shingleLen))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxDist.
    * Candidate generation by banding the 64-bit hash into 8 × 8-bit
    * chunks (pigeonhole: a pair within distance ≤ 7 must agree on ≥ 1
    * chunk), then exact Hamming verification — same block/verify shape
    * as LSH.
    */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 7): DataFrame = {
    // (doc_id, 64-bit hash) — tiny; materialized once so the
    // shingling + simhash computation runs once, not once per join side.
    val hashed = docs.select(
      col(idCol).as("doc_id"), simhash(col(textCol)).as("sh"))
      .transform(Pins.materializeOnce)
    // chunk key = (chunk index, 8 hash bits) packed into one long —
    // a compact shuffle key instead of round 1's built strings
    val chunkKeys = array((0 until 8).map { i =>
      (shiftrightunsigned(col("sh"), 8 * i).bitwiseAND(lit(0xFFL)) +
        lit((i.toLong + 1) << 8)).cast("long")
    }: _*)
    val banded = hashed.select(
      col("doc_id"), col("sh"), explode(chunkKeys).as("chunk_key"))
    val a = banded.select(col("chunk_key"),
      col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("chunk_key"),
      col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("chunk_key"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** The `(doc_id, sh)` shingle-hash table, materialized once
    * ([[graft.ops.Pins.materializeOnce]]): every exact and verified
    * near-dup path reads it more than once (sizes, self-join or prefix
    * sides, verification), so the text is shingled once.
    */
  private def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int): DataFrame =
    Pins.materializeOnce(shingleRows(docs, idCol, textCol, shingleLen))

  private def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      shingleHashes(col(textCol), shingleLen).as("sh"))

  /** [[shingleTable]], checkpointed, with its estimated in-memory size
    * as a broadcast hash relation: 8 B per shingle hash plus ~48 B of
    * per-row fixed cost (UnsafeRow header + array header + the
    * relation's key slot). An observation counts the rows and hashes
    * as the checkpoint materializes, so the estimate runs no job of
    * its own.
    */
  private def sizedShingleTable(docs: DataFrame, idCol: String,
      textCol: String, shingleLen: Int): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val sh = shingleRows(docs, idCol, textCol, shingleLen)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(size(col("sh"))), lit(0L)).as("tot"))
      .localCheckpoint()
    val st = obs.get
    (sh, st("tot").asInstanceOf[Long] * 8L + st("n").asInstanceOf[Long] * 48L)
  }

  /** Each document's shingles in the canonical rarest-first order
    * (global document frequency, then hash — `(df, s)` sorts
    * deterministically), from an exploded `(doc_id, s)` table:
    * `(doc_id, osh)`. Both prefix filters order by it.
    */
  private def rarestFirst(expl: DataFrame): DataFrame = {
    val freq = expl.groupBy(col("s")).agg(count(lit(1)).as("df"))
    expl.join(freq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("fs"))
      .select(col("doc_id"),
        transform(col("fs"), f => f.getField("s")).as("osh"))
  }

  /** `(doc_id, n, p, s)` per element of `arr` (an array over `osh`):
    * `n` = |osh|, and `p` the element's 1-based position in the global
    * rarest-first order — the PPJoin positional filter's input.
    */
  private def positions(ordered: DataFrame, arr: Column): DataFrame =
    ordered.select(col("doc_id"), size(col("osh")).as("n"), posexplode(arr))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"),
        col("col").as("s"))

  /** The positions of each document's prefix: its first
    * |x| − ⌈t·|x|⌉ + 1 rarest-first shingles (at least one). The
    * ε-guarded ceil means rounding may only LENGTHEN the prefix (more
    * candidates), never shorten it (missed pairs).
    */
  private def prefixPositions(ordered: DataFrame, threshold: Double)
      : DataFrame = {
    val prefLen = greatest(lit(1),
      size(col("osh")) -
        ceil(size(col("osh")) * lit(threshold) - lit(1e-9)).cast("int") + 1)
    positions(ordered, slice(col("osh"), lit(1), prefLen))
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin,
    * Bayardo WWW'07): provably the same output as [[ngramJaccardPairs]]
    * without the all-pairs shared-token join.
    *
    * With shingles canonically ordered rarest-first (global document
    * frequency, then hash), a pair at Jaccard ≥ t must share a shingle
    * within the first |x| − ⌈t·|x|⌉ + 1 elements of BOTH sides — so
    * only the short prefixes are exploded and self-joined, and hot
    * boilerplate shingles (the quadratic blowup in the naive join)
    * sit at the end of the ordering where they are never joined on.
    * Candidates then verify with one exact set intersection.
    *
    * The ⌈t·n⌉ uses an epsilon guard: double rounding may only ever
    * LENGTHEN the prefix (more candidates), never shorten it (missed
    * pairs).
    */
  def ngramJaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      broadcastVerifyMaxBytes: Long = 2L << 30): DataFrame = {
    val (sh, shBytes) = sizedShingleTable(docs, idCol, textCol, shingleLen)
    // same guarded verify strategy as [[ngramContainmentPairsPrefix]]
    // (see the measured head-to-head there): under the BYTE cap the
    // per-doc array table broadcasts and candidates stream through
    // hash probes — no array-carrying sort-merge join anywhere. The
    // guard prices the broadcast in estimated bytes (long-document
    // corpora blow a row-count guard long before 2M docs).
    val broadcastVerify = shBytes <= broadcastVerifyMaxBytes
    val expl = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val pref = prefixPositions(rarestFirst(expl), threshold)
    val candRaw = pref.select(col("s"), col("doc_id").as("doc_a"),
        col("n").as("n_a"), col("p").as("p_a"))
      .join(pref.select(col("s"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("p").as("p_b")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      // LENGTH filter (Arasu et al. VLDB'06 / Bayardo WWW'07, exact):
      // J ≥ t needs common ≥ t·max(|a|,|b|) and common ≤ min(|a|,|b|),
      // so min(|a|,|b|) ≥ ⌈t·max(|a|,|b|)⌉ — ε-guarded the lenient way
      .filter(least(col("n_a"), col("n_b")) >=
        ceil(greatest(col("n_a"), col("n_b")) * lit(threshold) - lit(1e-9)))
      // POSITIONAL filter (Xiao et al. WWW'08, symmetric form): on a
      // qualifying pair's EARLIEST shared-shingle row, overlap ≤ 1 +
      // min(|a|−p_a, |b|−p_b); J ≥ t needs overlap ≥
      // ⌈t·(|a|+|b|)/(1+t)⌉, so that row always passes — rows dropped
      // are ones some other row must carry (no false negatives, the
      // containment path's proof verbatim)
      .filter(lit(1) + least(col("n_a") - col("p_a"),
          col("n_b") - col("p_b")) >=
        ceil((col("n_a") + col("n_b")) *
          lit(threshold / (1.0 + threshold)) - lit(1e-9)))
      .select("doc_a", "doc_b")
    // VERIFY-BEFORE-DEDUP under the broadcast branch (the containment
    // twin's r16 re-ordering): raw per-match rows stream through the
    // broadcast hash probes inside the candidate-join stage and the
    // only wide exchange dedups the THRESHOLDED output; the shuffled
    // fallback keeps the candidate-set dedup ahead of its
    // array-carrying joins
    val cand =
      if (broadcastVerify) candRaw
      else candRaw.dropDuplicates("doc_a", "doc_b")
    def mb(df: DataFrame): DataFrame =
      if (broadcastVerify) broadcast(df) else df
    cand
      .join(mb(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))),
        Seq("doc_a"))
      .join(mb(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))),
        Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      // only the broadcast branch carries per-match duplicates this
      // far (its dedup moved behind the verify); the shuffled branch
      // already deduped candidates, so an unconditional dedup here
      // would add an output-sized exchange to its plan for nothing
      // (history/ADVICE.md)
      .transform(df =>
        if (broadcastVerify) df.dropDuplicates("doc_a", "doc_b") else df)
  }

  /** Exact n-gram CONTAINMENT pairs via ASYMMETRIC prefix filtering —
    * provably the same output as [[ngramContainmentPairs]] without
    * the all-pairs shared-shingle join (which goes quadratic on hot
    * boilerplate shingles: measured 1.95 s → 193.6 s over one 10×
    * decade, exp 2.0).
    *
    * Containment thresholds on min(|A|, |B|), so the Jaccard prefix
    * scheme does not transfer symmetrically: the larger side's
    * required overlap (t·|smaller|) can be arbitrarily small relative
    * to its own size, leaving it no short prefix. The correct
    * asymmetric form (the overlap-join construction in Bayardo
    * WWW'07): for a qualifying pair, the SMALLER side must contribute
    * one of its first |s| − ⌈t·|s|⌉ + 1 canonically-ordered shingles
    * (else fewer than ⌈t·|s|⌉ of its elements can be shared at all),
    * with NO constraint needed on where the match sits in the larger
    * side. So candidates come from joining small-side PREFIXES
    * against large-side FULL postings — hot shingles sort last in
    * the rarest-first order and land in almost no prefix, so they
    * stop generating candidate floods — tightened by the PPJoin
    * POSITIONAL bound (see the inline note; it is what keeps
    * candidates linear when a templated/replicated corpus inflates
    * every shingle's document frequency), followed by an exact
    * overlap COUNT joined from the thin shingle-hash postings (never
    * the documents' arrays — see the inline note). "Smaller" ties
    * break by id, and
    * each unordered pair re-canonicalizes to (min id, max id) after
    * verification, so the output contract matches the direct form
    * row for row (they share one oracle).
    */
  def ngramContainmentPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8,
      broadcastVerifyMaxBytes: Long = 2L << 30): DataFrame = {
    val (sh, shBytes) = sizedShingleTable(docs, idCol, textCol, shingleLen)
    // the shingle table's estimated size decides the verification
    // join strategy (see the verify note below). The guard is sized in
    // estimated BYTES, not document count: a long-document corpus can
    // blow Spark's broadcast limit at a fraction of the old 2M-row
    // cap, and a short-document one can broadcast far past it.
    // Under the cap the whole sorted-array table fits a broadcast hash
    // relation on warehouse-grade executors (the default 2 GiB leaves
    // headroom under Spark's 8 GB broadcast hard limit even with both
    // verify sides resident), and the verify fan then STREAMS through
    // two hash probes instead of sort-merge-sorting candidates × |doc|
    // rows; past the cap (the real-cluster corpus) the joins fall back
    // to shuffled form and partition-fit is the operator's documented
    // scale knob.
    val broadcastVerify = shBytes <= broadcastVerifyMaxBytes
    val expl = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    // VERIFICATION — the 100×-sweep disk kill lived here, and the fix
    // is the JOIN STRATEGY, not just the row shape (all three shapes
    // were measured head-to-head on the 10× sweep corpus, 9.2M
    // candidates from 2,560 true pairs — boilerplate corpora make
    // candidates far outnumber output):
    //  - r13 shape: attach both shingle ARRAYS per candidate row via
    //    sort-merge joins — the sort payload is |cand| × 2·|doc|
    //    longs, the measured ~76 GB spill that filled the 100× box;
    //  - thin POSTINGS-COUNT via sort-merge: bounded rows, but the
    //    candidates × |small| fan (598M rows at 10×) gets sorted for
    //    the (big_id, s) join: 190 s; even with the postings side
    //    broadcast the per-fan-row aggregate costs 48 s;
    //  - array attach via BROADCAST HASH probes — this branch: the
    //    per-doc sorted-array table is tiny (~|doc|·8 B per row:
    //    ~30 MB at 10×, ~300 MB at 100× on the sweep corpus — the
    //    guard above prices it in bytes against the 2 GiB default),
    //    so candidates STREAM through two hash probes and one
    //    array_intersect each (sorted 67-element arrays: sub-μs):
    //    7.2 s at 10×, no sort, no shuffle of array-carrying rows,
    //    no disk high-water at any sweep tier.
    // VERIFY-BEFORE-DEDUP (r16): under the broadcast branch the
    // candidate rows skip the pre-verify dropDuplicates outright —
    // the raw per-match rows (a pair sharing j prefix shingles
    // appears j times, each scoring the identical containment)
    // stream through the hash probes INSIDE the candidate-join
    // stage, and the only wide exchange dedups the THRESHOLDED
    // output. The r15 100× sweep measured 252.7M deduped candidates
    // against ~25k true pairs: the old shape shuffled all 252.7M
    // 4-long rows (~8 GB) through the dedup hash aggregate before a
    // single verification ran, which was the dominant term of the
    // 10→100 wall exponent 1.88; re-scoring duplicate matches costs
    // one extra sorted-array intersect per redundant row — map-side,
    // no exchange — and the dedup exchange shrinks by |candidates| /
    // |true pairs| (four orders of magnitude on that corpus).
    // Past `broadcastVerifyMaxBytes` (the genuine-cluster corpus) the
    // array table stops being broadcastable and the fallback is the
    // thin postings-count in its shuffled form — there the
    // candidate-set dedup stays BEFORE the fan (per-row payload 3
    // longs, sort capacity distributed across the cluster's
    // executors, aggregate partial-combining map-side), because the
    // fan multiplies candidates × |small| and must price deduped
    // candidates. Both branches compute the identical exact overlap
    // (DedupSpec pins them to the direct form's output).
    (if (broadcastVerify) {
      containmentCandidatesFrom(expl, threshold, dedup = false)
        .join(broadcast(
            sh.select(col("doc_id").as("small_id"), col("sh").as("sh_a"))),
          Seq("small_id"))
        .join(broadcast(
            sh.select(col("doc_id").as("big_id"), col("sh").as("sh_b"))),
          Seq("big_id"))
        .withColumn("common",
          size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(col("small_id"), col("big_id"),
          col("n_small"), col("n_big"), col("common"))
    } else {
      containmentCandidatesFrom(expl, threshold)
        .join(expl.select(col("doc_id").as("small_id"), col("s")),
          Seq("small_id"))
        .join(expl.select(col("doc_id").as("big_id"), col("s")),
          Seq("big_id", "s"))
        .groupBy(col("small_id"), col("big_id"),
          col("n_small"), col("n_big"))
        .agg(count(lit(1)).as("common"))
    })
      .withColumn("containment",
        col("common").cast("double") /
          least(col("n_small"), col("n_big")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(least(col("small_id"), col("big_id")).as("doc_a"),
        greatest(col("small_id"), col("big_id")).as("doc_b"),
        round(col("containment"), 6).as("containment"))
      // the raw-match branch emits each true pair once per shared
      // prefix shingle — identical rows, deduped here where the
      // exchange carries output-sized data; the shuffled branch's
      // candidates arrived deduped, so it skips the extra exchange
      // outright (history/ADVICE.md)
      .transform(df =>
        if (broadcastVerify) df.dropDuplicates("doc_a", "doc_b") else df)
      // the thresholded pair table is the bounded output — checkpointed,
      // the shingle checkpoint has no reader once the call returns
      .localCheckpoint()
  }

  /** The asymmetric prefix filter's candidate stage over an exploded
    * `(doc_id, s)` shingle table: returns the deduplicated
    * `(small_id, big_id, n_small, n_big)` candidate pairs that
    * verification must score — the candidate stage of
    * [[ngramContainmentPairsPrefix]].
    */
  private def containmentCandidatesFrom(
      expl: DataFrame, threshold: Double,
      dedup: Boolean = true): DataFrame = {
    // `ordered` feeds the prefix AND the full postings side as one
    // UNMATERIALIZED subtree: Spark's ReuseExchange already
    // deduplicates the identical agg plans, so both sides share one
    // physical aggregation for free. (An eager localCheckpoint here
    // was tried in round 13 and measured 3× SLOWER at 10× — the
    // checkpoint write traded away the free reuse — and did not fix
    // the 100× disk kill, which lived in the array-carrying
    // verification join, since re-shaped to broadcast hash probes.)
    val ordered = rarestFirst(expl)
    val pref = prefixPositions(ordered, threshold)
    val full = positions(ordered, col("osh"))
    val base = pref.select(col("s"), col("doc_id").as("small_id"),
        col("n").as("n_small"), col("p").as("p_small"))
      .join(full.select(col("s"), col("doc_id").as("big_id"),
        col("n").as("n_big"), col("p").as("p_big")), Seq("s"))
      .filter(col("n_small") < col("n_big") ||
        (col("n_small") === col("n_big") &&
          col("small_id") < col("big_id")))
      // POSITIONAL filter (the PPJoin bound, Xiao et al. WWW'08 —
      // public algorithm): under one global order, a pair's earliest
      // shared shingle s* has no shared shingle before it on EITHER
      // side, so overlap ≤ 1 + min(|a|−p_a*, |b|−p_b*); a qualifying
      // pair (overlap ≥ ⌈t·|a|⌉) therefore passes this predicate on
      // its earliest-match row, and rows it drops are only ones some
      // other row must carry — no false negatives. This is what keeps
      // candidates linear when replication/templating inflates every
      // shingle's df: a match sitting deep in both orders cannot
      // reach the threshold and dies inside the join stage (measured:
      // the 100× sweep corpus — 100 marker-perturbed replicas per
      // document — generated ~20M array-carrying verify rows and
      // 76 GB of spill without this, ~linear candidates with it).
      .filter(lit(1) +
        least(col("n_small") - col("p_small"),
          col("n_big") - col("p_big")) >=
        ceil(col("n_small") * lit(threshold) - lit(1e-9)))
      .select(col("small_id"), col("big_id"), col("n_small"), col("n_big"))
    // `dedup = false` hands back the RAW per-match rows (a pair sharing
    // j prefix shingles appears j times): the broadcast-verify caller
    // scores them in-stage and dedups AFTER thresholding, so the wide
    // exchange prices true pairs, not candidates (see the verify note
    // in [[ngramContainmentPairsPrefix]]). The shuffled-verify caller
    // keeps the candidate-set dedup here.
    if (dedup) base.dropDuplicates("small_id", "big_id") else base
  }

  /** The PRODUCTION ordering for template-/boilerplate-heavy corpora
    * (the pipeline SURVEY §2.9 documents, promoted from prose to a
    * certified operator): exact-duplicate collapse, then MinHash-LSH
    * near-dup collapse ([[dedupCorpus]]), THEN containment-prefix
    * pairing on the survivors. Containment's candidate volume is
    * driven by replicated/near-identical documents inflating shingle
    * document frequencies until even mid-rank shingles land in
    * prefixes (the measured 10×-sweep middle decade: 148.6k → 9.24M
    * candidates on the raw corpus); the two collapse stages remove
    * exactly those documents — one fingerprint hash-shuffle plus the
    * banded LSH join, both linear — so the prefix join prices
    * candidates on the COLLAPSED corpus.
    *
    * Output contract: the residual asymmetric containment pairs
    * (small-inside-large pastes) among the near-dup survivor corpus —
    * `(doc_a, doc_b, containment)`, exactly
    * [[ngramContainmentPairsPrefix]] over [[dedupCorpus]]'s output.
    * Exact-first changes nothing in that set UP TO the LSH bucket
    * guard: exact duplicates have identical shingle sets, hence
    * identical Jaccard edges to every other document, so removing an
    * exact group's non-min members preserves every near-dup component
    * and its min-id representative — PROVIDED no qualifying pair's
    * last shared band sat in a bucket the `maxBucket` skew guard
    * drops. The guard's size accounting sees the collapsed corpus, so
    * on heavily replicated inputs the two orderings can disagree on
    * pairs found only through oversized buckets (ADVICE r15); on
    * corpora whose buckets stay under the guard the survivor set
    * equals [[dedupCorpus]] run directly on the raw corpus.
    * q_containment_pipeline certifies the composition against the
    * all-pairs oracle on that survivor set.
    */
  def containmentPipeline(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val exactKeeps = exactDedup(docs, idCol, textCol)
      .select(col("keep_id").as(idCol))
    // survivors of the exact stage: one hash semi-join on the id —
    // the keep set is corpus-sized, so no broadcast; both sides
    // shuffle once on the key they are already keyed by downstream
    val exSurv = docs.join(exactKeeps, Seq(idCol), "left_semi")
    val survivors = dedupCorpus(exSurv, idCol, textCol)
    ngramContainmentPairsPrefix(
      survivors, idCol, textCol, shingleLen, threshold)
  }

  // ---------------------------------------------------------------
  // Winnowing partial-overlap detection
  // ---------------------------------------------------------------

  /** Partial-overlap candidate pairs via winnowing fingerprints
    * ([[graft.functions.Winnow]]): documents sharing ≥ `minShared`
    * selected fingerprints. Where n-gram Jaccard measures whole-
    * document similarity, this catches documents EMBEDDING a common
    * passage (quotes, boilerplate, plagiarism): any shared byte run of
    * length ≥ w+k−1 is guaranteed to contribute a shared fingerprint.
    *
    * Scale: fingerprints sample ~2/(w+1) of gram positions — with the
    * default k=25/w=50 that is ~4% of a document's bytes (the
    * SIGMOD'03 deployment range), so the exploded self-join is over a
    * small sketch, not the text; the same groupBy-count + broadcast
    * skew guard as LSH banding caps ubiquitous-fingerprint buckets.
    * The guarantee makes `minShared = 1` sound: any shared run of
    * ≥ w+k−1 (=74) bytes selects at least one identical fingerprint
    * in both documents (both see the same window, pick the same min).
    */
  def winnowOverlapPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 25,
      w: Int = 50,
      minShared: Int = 1,
      maxBucket: Int = 10000): DataFrame = {
    val fp = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions.winnow(col(textCol), k, w))
        .as("fp"))
      .transform(Pins.materializeOnce)
    val ok = dropOversizedBuckets(fp, "fp", maxBucket)
    ok.select(col("fp"), col("doc_id").as("doc_a"))
      .join(ok.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  // ---------------------------------------------------------------
  // Embedding near-dup
  // ---------------------------------------------------------------

  /** Embedding-cosine near-duplicate pairs ≥ threshold — EXACT
    * all-pairs form. Norms are computed once per row (n, not n²), the
    * per-pair cost is one native [[graft.functions.VectorDot]]; the
    * pair enumeration itself is still quadratic, so this is the
    * verification/oracle path — the production path at corpus scale is
    * [[embeddingNearDupLsh]].
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    import graft.similarity.Knn
    val e = embeddings.select(
      col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Knn.norm(col("v")))
      // zero-norm rows have no direction: cos would be NaN, which
      // sorts above every double — excluded here and in every
      // embedding path (and mirrored in the oracles)
      .filter(col("nrm") > 0)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        Knn.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding-cosine near-dup at scale: OR-amplified random-hyperplane
    * LSH — `tables` independent signatures (distinct seeds), candidates
    * from same-bucket or one-probe-bit-apart collisions in ANY table,
    * exact cosine verifying every candidate. Amplification is what
    * makes moderate thresholds reachable: at cosine 0.4 a single
    * 8-bit table collides with p ≈ 0.12 even multiprobed (recall 0.085
    * measured on sf0.01 ground truth), while L OR-ed tables lift that
    * to ≈ 1−(1−p)^L — measured 0.75 at L=8, 0.86 at the default L=12
    * on the sf0.01 ground truth. Sub-quadratic: each row joins
    * ~tables·(bits+1)/2^bits of the corpus — (tables, bits) is the
    * recall/cost dial; recall is pinned in DedupSpec and RECALL.json.
    */
  def embeddingNearDupLsh(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      bits: Int = 8,
      tables: Int = 12,
      maxBucket: Int = 100000): DataFrame = {
    import graft.similarity.Knn
    val e = embeddings.select(
      col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Knn.norm(col("v")))
      .filter(col("nrm") > 0) // no-direction rows: see embeddingNearDup
      .transform(Pins.materializeOnce)
    // All tables' signatures in ONE native-expression pass
    // ([[graft.functions.HyperplaneSignatures]]), materialized once per
    // row by the generator and materialized as a tiny table-tagged
    // (id, bucket) frame — the hyperplane dot products run exactly once
    // per vector inside codegen, and the bucket join works on bare
    // 16-byte rows, never shipping vectors.
    val sigArr = graft.functions.GraftFunctions
      .hyperplaneSignatures(col("v"), dim, bits, tables)
    val buckets = e
      .select(col("vec_id"), posexplode(sigArr).as(Seq("tbl", "sig")))
      .select(col("vec_id"),
        (col("sig") + col("tbl").cast("long") * lit(1L << bits)).as("bucket"))
      .transform(Pins.materializeOnce)
    // a-side probes = the tagged bucket plus each low-bit flip (the
    // table tag lives above `bits`, so XOR stays inside the table);
    // b-side occupies its own bucket per table
    val probeArr = array(col("bucket") +:
      (0 until bits).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val aIds = buckets.select(col("vec_id").as("id_a"),
      explode(probeArr).as("bucket"))
    val bIds = buckets.select(col("vec_id").as("id_b"), col("bucket"))
    // skew guard BEFORE the join, sized on corpus-side buckets
    val big = bIds.groupBy(col("bucket")).count()
      .filter(col("count") > maxBucket).select(col("bucket"))
    // Verify MAP-SIDE on the joined candidates (the vector attach joins
    // broadcast/hash on id) and deduplicate multi-table collisions only
    // AFTER the threshold filter: re-verifying a duplicate candidate is
    // a few hundred codegen'd flops, while deduplicating the full
    // candidate set first is a candidate-volume shuffle — the wrong
    // side of the trade at every scale.
    aIds.join(broadcast(big), Seq("bucket"), "left_anti")
      .join(bIds.join(broadcast(big), Seq("bucket"), "left_anti"),
        Seq("bucket"))
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
      .dropDuplicates("id_a", "id_b")
  }

  // ---------------------------------------------------------------
  // Cross-corpus operators: decontamination & incremental dedup
  // ---------------------------------------------------------------

  /** Benchmark decontamination: flag every training document sharing
    * at least one word n-gram with a held-out benchmark/eval set —
    * the standard pretraining hygiene step (n-gram collision against
    * the eval suite ⇒ the document leaks test data and must be
    * dropped or scrubbed).
    *
    * Output: (idCol, n_contaminated) for flagged documents only,
    * where n_contaminated counts the DISTINCT leaked shingles
    * (shingle arrays are per-document distinct by construction).
    *
    * Scale: benchmark suites are tiny relative to a 100 TB corpus
    * (thousands of documents), so the benchmark shingle set is
    * broadcast — the training side is ONE map-side semi-joined scan,
    * never shuffled on text; the only shuffle is the per-doc hit
    * count, keyed on the id of the (rare) flagged rows. Joining on
    * the 8-byte xxhash64 shingle hash, same collision tolerance as
    * [[ngramJaccardPairs]].
    */
  def decontaminate(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 4): DataFrame = {
    val benchSh = bench
      .select(explode(shingleHashes(col(textCol), shingleLen)).as("s"))
      .distinct()
    train
      .select(col(idCol), explode(shingleHashes(col(textCol), shingleLen)).as("s"))
      .join(broadcast(benchSh), Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Per-document contamination REPORT — [[decontaminate]]'s hit
    * counts joined back over the whole training set with each
    * document's own distinct-shingle count and the contaminated
    * FRACTION (round(6) for engine-identical hashing): the form a
    * fraction-threshold scrub consumes (drop when more than X% of a
    * document's n-grams appear in any benchmark — the PaLM-style
    * rule — rather than on any single hit; thresholding is the
    * caller's one extra filter).
    *
    * Same 100 TB shape as [[decontaminate]] (broadcast benchmark
    * index, map-side scan, only hits shuffle); the per-document
    * shingle count is a shuffle-free map-side `size` of the same
    * distinct-shingle expression the hit counts are built from, so
    * numerator and denominator can never disagree on shingling.
    */
  def contaminationReport(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 4): DataFrame = {
    val hits = decontaminate(train, bench, idCol, textCol, shingleLen)
    train
      .select(col(idCol),
        size(shingleHashes(col(textCol), shingleLen)).as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("contaminated_frac"))
  }

  /** Semantic (embedding-level) decontamination: flag every training
    * item whose embedding sits within cosine `threshold` of ANY
    * benchmark item — the paraphrase-robust complement to the n-gram
    * [[decontaminate]] (a reworded eval question shares no 4-gram but
    * keeps its embedding neighborhood).
    *
    * Output: (idCol, bench_id, cos) — one row per contaminated train
    * item with its closest benchmark match (ties toward the smallest
    * bench id).
    *
    * Scale: benchmark suites are small, so the bench side broadcasts
    * and scoring is a map-side O(|train|·|bench|) codegen'd flop scan
    * — the train corpus is scanned once and never shuffled; only the
    * (rare) flagged hits shuffle for the per-item argmax. A very
    * large benchmark routes through [[graft.similarity.Ivf]] cells
    * instead, same emit algebra.
    */
  def decontaminateEmbeddings(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    import graft.similarity.Knn
    // zero-norm vectors (failed embedder / padding rows) have no
    // direction: cos would be 0/0 = NaN, and NaN sorts ABOVE every
    // double in Spark, so an unguarded degenerate row would pass the
    // threshold and win every argmax. Excluded on both sides (the
    // oracle applies the same norm > 0 guard).
    val t = train.select(
      col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Knn.norm(col("v")))
      .filter(col("nrm") > 0)
    val b = broadcast(bench.select(
      col(idCol).as("bench_id"), col(vecCol).cast("array<double>").as("bv"))
      .withColumn("bnrm", Knn.norm(col("bv")))
      .filter(col("bnrm") > 0))
    t.crossJoin(b)
      .withColumn("cos",
        Knn.dot(col("v"), col("bv")) / (col("nrm") * col("bnrm")))
      .filter(col("cos") >= threshold)
      .transform(bestMatch(_, idCol, "bench_id", "cos", 4))
  }

  /** Incremental (cross-corpus) near-dup detection: for each document
    * of a NEW batch, its best near-duplicate in the EXISTING corpus at
    * n-gram Jaccard ≥ threshold — the daily-crawl-vs-historical-corpus
    * shape, where re-deduplicating the whole corpus per batch would be
    * O(corpus) instead of O(batch). Exact duplicates surface as
    * jaccard = 1.0, so this subsumes the content-hash check.
    *
    * Output: (batch_doc, dup_of, jaccard) — one row per contaminated
    * batch document, `dup_of` = the corpus doc with the highest
    * Jaccard (ties broken toward the smallest corpus id).
    *
    * Scale: the inverted-index join shuffles batch-side shingles
    * (O(|batch|), not O(|corpus|)) against the corpus shingle index;
    * like [[ngramJaccardPairs]] this direct form is the oracle-exact
    * path — corpora with hot boilerplate shingles route through
    * [[dedupAgainstCorpusLsh]] (banded candidates + exact verify,
    * proven output-equal) instead.
    */
  def dedupAgainstCorpus(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    def side(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      shingleHashes(col(textCol), shingleLen).as("sh"))
    val b = Pins.materializeOnce(side(batch, "batch_doc"))
    val c = Pins.materializeOnce(side(corpus, "corpus_doc"))
    val common = b.select(col("batch_doc"), explode(col("sh")).as("s"))
      .join(c.select(col("corpus_doc"), explode(col("sh")).as("s")), Seq("s"))
      .groupBy(col("batch_doc"), col("corpus_doc"))
      .agg(count(lit(1)).as("common"))
    common
      .join(b.select(col("batch_doc"), size(col("sh")).as("n_b")), Seq("batch_doc"))
      .join(c.select(col("corpus_doc"), size(col("sh")).as("n_c")), Seq("corpus_doc"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_b") + col("n_c") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .transform(bestCorpusMatch)
  }

  /** Shared emit step of the cross-set forms: per-group argmax on the
    * UNROUNDED score (bit-identical arithmetic in every engine), ties
    * toward the smallest matched id, rounding only the emitted value.
    * The single home of the oracle-sensitive tie-break algebra.
    */
  private def bestMatch(
      scored: DataFrame,
      groupCol: String,
      matchCol: String,
      valCol: String,
      scale: Int): DataFrame =
    scored
      .groupBy(col(groupCol))
      .agg(max(struct(col(valCol).as("v"), (-col(matchCol)).as("neg"))).as("best"))
      .select(
        col(groupCol),
        (-col("best.neg")).as(matchCol),
        round(col("best.v"), scale).as(valCol))

  private def bestCorpusMatch(scored: DataFrame): DataFrame =
    bestMatch(scored, "batch_doc", "corpus_doc", "jaccard", 6)
      .withColumnRenamed("corpus_doc", "dup_of")

  /** The 100 TB production path of [[dedupAgainstCorpus]]: MinHash-LSH
    * banding proposes cross-set candidates (batch band keys probe the
    * corpus band index — O(|batch|·bands) probe rows regardless of
    * corpus size), exact Jaccard verifies candidates only, and the
    * same argmax picks the best corpus match.
    *
    * Output equality with the exact form: with r=2/bands=32 a true
    * ≥0.8 pair escapes every band with P ≈ 6·10⁻¹⁵ — so WHENEVER no
    * band bucket exceeds `maxBucket` the two forms agree (the case
    * pinned in DedupSpec). The corpus-side skew guard that drops
    * oversized band buckets is the same recall/cost dial as
    * [[minhashCandidates]]'s: a pair whose EVERY agreeing band lands
    * in an oversized (boilerplate-dominated) bucket can be missed.
    * Raise `maxBucket` — or pre-strip boilerplate with
    * [[graft.text.TextOps.stripBoilerplate]] — when that trade is
    * wrong for the corpus.
    */
  def dedupAgainstCorpusLsh(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.8,
      maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def side(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      shingleHashes(col(textCol), shingleLen).as("sh"))
      .transform(Pins.materializeOnce)
    val b = side(batch, "batch_doc")
    val c = side(corpus, "corpus_doc")
    def bandedSide(s: DataFrame, id: String): DataFrame = s.select(
      col(id),
      explode(bandKeys(
        graft.functions.GraftFunctions.minhashSignature(col("sh"), numHashes),
        bands, r)).as("band_key"))
    val bb = bandedSide(b, "batch_doc")
    val cb = bandedSide(c, "corpus_doc")
    // guard sized on CORPUS-side bucket counts (the side that can be
    // boilerplate-quadratic) and applied to both join inputs
    val big = oversizedKeys(cb, "band_key", maxBucket)
    val cand = bb.join(broadcast(big), Seq("band_key"), "left_anti")
      .join(cb.join(broadcast(big), Seq("band_key"), "left_anti"),
        Seq("band_key"))
      .select("batch_doc", "corpus_doc")
      .dropDuplicates("batch_doc", "corpus_doc")
    cand
      .join(b.select(col("batch_doc"), col("sh").as("sh_b")), Seq("batch_doc"))
      .join(c.select(col("corpus_doc"), col("sh").as("sh_c")), Seq("corpus_doc"))
      .withColumn("common", size(array_intersect(col("sh_b"), col("sh_c"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_b")) + size(col("sh_c")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .transform(bestCorpusMatch)
  }

  // ---------------------------------------------------------------
  // Exact incremental dedup against a stored fingerprint/Bloom index
  // ---------------------------------------------------------------

  /** The corpus's exact-content fingerprint index: (corpus_doc, fp)
    * with fp = [[TextOps.fingerprint]] (md5 — the ONE fingerprint
    * definition, shared with [[exactDedup]]). ~20 bytes per document,
    * so the index for a 10¹⁰-document corpus is ~200 GB parquet —
    * a TableStore table, not a re-derivation: built ONCE per corpus
    * (the only full text scan in the exact-incremental flow) and
    * appended per ingested batch with the batch SURVIVORS' rows.
    * [[exactAgainstCorpus]] then prices a daily batch at O(batch)
    * against this table instead of O(corpus) against the text.
    */
  def exactFingerprintIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    corpus.select(col(idCol).as("corpus_doc"),
      TextOps.fingerprint(col(textCol)).as("fp"))

  /** Serialized Bloom filter over a fingerprint index's `fp` column —
    * the map-side prefilter artifact for [[exactAgainstCorpus]]. Built
    * distributed (per-partition filters, `treeAggregate` merge — the
    * mergeable-sketch fold) and returned as bytes for TableStore
    * persistence next to the index itself. Deliberately NOT delegated
    * to `DataFrameStatFunctions.bloomFilter`: the probe side hashes
    * the fp's UTF-8 bytes ([[graft.functions.BloomMightContain]]),
    * and keeping the put in our own code (`putBinary` of those same
    * bytes) pins build/probe byte-compatibility here rather than on
    * the stat implementation's put-dispatch staying stable across
    * Spark versions.
    *
    * Sizing: at the default 1% fpp a Bloom costs ~1.2 bytes/item —
    * ~12 GB for 10¹⁰ documents, which is why `expectedItems` should be
    * the TARGET corpus ceiling, not today's count: merging increments
    * ([[mergeBloomIndex]]) requires bit-compatible filters, i.e. every
    * increment built with the SAME `expectedItems`/`fpp`. A sharded
    * corpus carries one such filter per shard. `expectedItems = 0`
    * (default) sizes from a count of the index — the
    * calibrate-from-the-data convenience for one-shot use.
    *
    * Hash input is the fp string's UTF-8 bytes (`putBinary`), byte-
    * identical to [[graft.functions.BloomMightContain]]'s probe.
    */
  def exactBloomIndex(
      corpusIndex: DataFrame,
      expectedItems: Long = 0L,
      fpp: Double = 0.01): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val n =
      if (expectedItems > 0L) expectedItems
      else math.max(1L, corpusIndex.count())
    val fps = corpusIndex.select(col("fp").cast("string")).na.drop()
      .as(org.apache.spark.sql.Encoders.STRING)
    val bf = fps.rdd
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .treeAggregate(BloomFilter.create(n, fpp))(
        (f, bytes) => { f.putBinary(bytes); f },
        (a, b) => a.mergeInPlace(b))
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Merge an increment's Bloom into the stored corpus Bloom (both
    * built with identical `expectedItems`/`fpp`, or this throws
    * `IncompatibleMergeException`) — the append step of the
    * incremental flow: ingest a batch, keep its non-duplicates, add
    * their fingerprints to the index table AND their Bloom here.
    * Bit-or of the underlying arrays, so merge order is irrelevant and
    * the result equals the Bloom built over the union in one pass.
    */
  def mergeBloomIndex(stored: Array[Byte], increment: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val a = BloomFilter.readFrom(stored)
    a.mergeInPlace(BloomFilter.readFrom(increment))
    val out = new java.io.ByteArrayOutputStream()
    a.writeTo(out)
    out.toByteArray
  }

  /** Exact cross-corpus dedup report: EVERY batch document, with the
    * smallest corpus doc id holding byte-identical text as `dup_of`
    * (NULL ⇒ genuinely new — the rows an incremental ingest appends).
    * The exact-duplicate complement of [[dedupAgainstCorpus]]'s
    * near-dup report, keyed on the md5 fingerprint (same collision
    * tolerance as [[exactDedup]]).
    *
    * Without `bloom`, the whole batch left-joins the index — already
    * O(batch), but every batch row crosses the wire twice (join +
    * per-doc min). With `bloom` (built by [[exactBloomIndex]] over the
    * SAME index), the batch splits map-side on the probe:
    *
    *  - probe-negative rows are CERTAIN non-duplicates (Bloom has no
    *    false negatives) and short-circuit to `dup_of = NULL` with
    *    ZERO exchanges — scan → filter → project, nothing shuffled.
    *    At real dup rates (a few % of a daily crawl) that is ~all of
    *    the batch;
    *  - only probe-positive rows (true duplicates + the fpp tail) pay
    *    the index join, which also clears the false positives — so
    *    output is EQUAL to the no-bloom path for ANY bloom over the
    *    corpus fps, and the filter only buys the plan shape
    *    (DedupSpec pins the equality, PlanSpec the shapes).
    *
    * The residue join's own scale shape matters: the residue is the
    * OUTER side, so Spark cannot broadcast it, and an index past the
    * broadcast threshold (a 10¹⁰-doc index is ~200 GB) would
    * sort-merge — shuffling the whole index per batch. The corpus
    * answer is layout, not planning: store the index fp-BUCKETED
    * ([[graft.sources.Bucketed.writeBucketed]]), and the index side
    * satisfies the join distribution straight off the scan — the only
    * exchange in the whole path is the residue's own, and the
    * (batch_doc, fp) aggregation free-rides on the join's fp
    * distribution (BucketedSpec pins exactly this plan with broadcast
    * disabled). The per-batch index SCAN is the remaining floor —
    * column-pruned to ~20 B/doc and exchange-free, which is the
    * practical optimum for an exact verify.
    *
    * Null text fingerprints to null, matches nothing (SQL equality
    * semantics), probes null → routed to the miss branch: NULL dup_of
    * on every path.
    *
    * Precondition: batch ids are unique (the per-document id-key
    * contract every report-shaped operator here shares). The miss
    * branch is deliberately per-ROW — deduplicating it would cost the
    * exchange whose absence is the point — so under violated
    * uniqueness the two paths can differ in row multiplicity. The
    * resolve side groups on (batch_doc, fp), which both keeps the
    * mixed duplicate-id case path-equal AND lets the aggregation
    * reuse the join's fp distribution instead of adding an exchange.
    */
  def exactAgainstCorpus(
      batch: DataFrame,
      corpusIndex: DataFrame,
      idCol: String,
      textCol: String,
      bloom: Option[Array[Byte]] = None): DataFrame = {
    val idType = corpusIndex.schema("corpus_doc").dataType
    val b = batch.select(col(idCol).as("batch_doc"),
      TextOps.fingerprint(col(textCol)).as("fp"))
    def resolve(cand: DataFrame): DataFrame = cand
      .join(corpusIndex, Seq("fp"), "left")
      .groupBy(col("batch_doc"), col("fp"))
      .agg(min(col("corpus_doc")).as("dup_of"))
      .select(col("batch_doc"), col("dup_of"))
    bloom match {
      case None => resolve(b)
      case Some(bytes) =>
        val probed = b.withColumn("hit", coalesce(
          graft.functions.GraftFunctions.bloomMightContain(col("fp"), bytes),
          lit(false)))
        probed.filter(!col("hit"))
          .select(col("batch_doc"), lit(null).cast(idType).as("dup_of"))
          .unionByName(resolve(probed.filter(col("hit")).drop("hit")))
    }
  }

  /** Exact substring dedup — the Lee et al. 2022 ExactSubstr modality
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) at k-token granularity: any k-token window
    * whose text recurs ANYWHERE in the corpus is removed from every
    * occurrence except the globally first (ordered by (doc, position)
    * — "keep one copy", deterministic). Overlapping duplicate windows
    * coalesce into maximal spans by construction, so a shared
    * 200-token passage disappears from all but one document as one
    * contiguous cut, and the survivors reassemble in order with
    * canonical single-space joins.
    *
    * Self-overlap: a duplicate window that OVERLAPS the kept first
    * occurrence in the same document (start < first_start + k) is
    * spared. Without this, periodic text — "= = = = =" separators, a
    * token repeated 2k−1 times — marks the windows one step after the
    * kept one as duplicates and cuts the kept copy's own tokens,
    * truncating the "one kept copy" below k tokens. With it, a
    * periodic run keeps exactly its first k-token window (plus at
    * most k−1 trailing tokens when no disjoint window remains to
    * cover them) and every later repetition still goes.
    *
    * The Spark shape replaces the paper's monolithic suffix array with
    * relational passes that scale horizontally:
    *
    *  1. anchor pass — [[graft.functions.PositionalShingleHashes]]
    *     emits each document's k-token window hashes in position
    *     order, map-side;
    *  2. first-owner pass — `min(struct(doc, pos))` per window hash,
    *     with map-side partial aggregation, so a degenerate hot window
    *     (boilerplate repeated millions of times) combines before the
    *     exchange instead of skewing a sort the way a `row_number`
    *     window would; windows seen once are pruned HERE (`count > 1`)
    *     so the join below only ever touches true duplicates;
    *  3. mark pass — re-join the anchors against the surviving
    *     (window → first owner) table on the 8-byte hash and keep the
    *     instances that are not the owner; both shuffles move ~20-byte
    *     tuples, never text;
    *  4. cut-and-reassemble — duplicate start positions gather per
    *     document (bounded by the document's own token count, the
    *     stripBoilerplate precedent), the text crosses the wire ONCE
    *     keyed by id, and [[graft.functions.RemoveTokenSpans]] drops
    *     covered tokens in one linear two-pointer pass.
    *
    * Window identity is the xxhash64 of the window text: two DIFFERENT
    * k-token windows colliding on 64 bits would be spuriously removed
    * — at 10¹¹ windows that is a few hundred 8-token spans corpus-wide,
    * noise at training scale (the oracle twin compares window TEXT, so
    * the correctness gate would catch any systematic divergence).
    */
  def substringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    require(k > 0, s"window length must be positive, got $k")
    val grams = windowGrams(docs, idCol, textCol, k)
    val firsts = grams
      .groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("first"),
        count(lit(1)).as("n_inst"))
      .filter(col("n_inst") > 1)
      .select(col("h"), col("first"))
    val dupStarts = grams
      .join(firsts, Seq("h"))
      // cut an instance only when it neither IS the owner nor overlaps
      // the owner's kept window in the same doc (self-overlap rule in
      // the contract above); the owner trivially overlaps its own
      // window, so the one predicate covers both exclusions
      .filter(col(idCol) =!= col(s"first.$idCol") ||
        col("pos") >= col("first.pos") + lit(k))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    cutTokenSpans(docs, idCol, textCol, dupStarts, k)
  }

  /** Each document's k-token windows as (id, pos, h) anchor tuples —
    * the shared gram head of both substring-dedup forms. */
  private def windowGrams(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs
      .select(col(idCol), posexplode(
        graft.functions.GraftFunctions
          .positionalShingleHashes(col(textCol), k)))
      .toDF(idCol, "pos", "h")

  /** Shared cut-and-reassemble tail of both substring-dedup forms:
    * attach each doc's duplicate-window start positions (absent = no
    * cuts), drop covered tokens in one linear
    * [[graft.functions.RemoveTokenSpans]] pass, and report the token
    * delta. The text crosses the wire ONCE, keyed by id. */
  private def cutTokenSpans(
      docs: DataFrame, idCol: String, textCol: String,
      dupStarts: DataFrame, k: Int): DataFrame =
    docs
      .join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.GraftFunctions.removeTokenSpans(col(textCol),
          coalesce(col("dup_starts"),
            array().cast("array<int>")), k).as("dedup_text"),
        TextOps.tokenCount(col(textCol)).as("__n_orig"))
      .select(col(idCol), col("dedup_text"),
        (col("__n_orig") - TextOps.tokenCount(col("dedup_text")))
          .cast("int").as("n_removed_tokens"))

  /** The stored corpus's substring-anchor index: the DISTINCT k-token
    * window hashes it contains — one map-side pass plus one hash
    * aggregation; 8 bytes per distinct window, no text, no positions.
    * Persist it (a [[graft.streaming.TableStore]] table) and refresh
    * incrementally: new batches only ever APPEND distinct hashes.
    */
  def substringAnchorIndex(
      corpus: DataFrame,
      textCol: String,
      k: Int = 8): DataFrame =
    corpus
      .select(explode(
        graft.functions.GraftFunctions
          .positionalShingleHashes(col(textCol), k)).as("h"))
      .distinct()

  /** Incremental exact substring dedup — [[substringDedup]]'s
    * cross-corpus form, the same division as [[dedupAgainstCorpus]]:
    * cut from `batch` every k-token window whose hash already exists
    * in the stored corpus's [[substringAnchorIndex]]. The corpus
    * always wins (its copy is already stored); batch-INTERNAL repeats
    * are deliberately out of scope — run [[substringDedup]] over the
    * batch first if they matter.
    *
    * Work is O(|batch|): the batch's anchor tuples semi-join the
    * index on the 8-byte hash (never text), span starts gather per
    * document, and the batch text crosses the wire once for the
    * [[graft.functions.RemoveTokenSpans]] cut. The index side carries
    * no skew risk — a hot anchor is ONE row of a distinct set.
    */
  def substringDedupAgainstCorpus(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      anchors: DataFrame,
      k: Int = 8): DataFrame = {
    require(k > 0, s"window length must be positive, got $k")
    val dupStarts = windowGrams(batch, idCol, textCol, k)
      .join(anchors.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    cutTokenSpans(batch, idCol, textCol, dupStarts, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the actual
    * published shape, composed from the engine's own primitives:
    * a trained k-means partition scopes the cosine near-dup search
    * (pairs form ONLY within a cell — the approximation that makes
    * semantic dedup sub-quadratic: candidate volume is Σ cell², and
    * the cells are the data's own density structure), connected
    * components collapse each near-dup group to its minimum-id member,
    * and losers leave by broadcast anti-join.
    *
    * Pass [[graft.similarity.KMeans.train]]'s centroids (exact-decimal
    * training — the partition is layout-independent, so the ENTIRE
    * dedup decision replays deterministically; the oracle inlines the
    * same centroids). Zero-norm vectors have no direction and are
    * never paired (the [[embeddingNearDup]] rule). Boundary caveat by
    * design: a near-dup pair straddling two cells is missed — SemDeDup
    * accepts this for the Σ cell² cost bound (the paper's k controls
    * the dial).
    *
    * Keeper rule — a DELIBERATE deviation from the paper: Abbas et al.
    * keep the member with the LOWEST cosine to its cluster centroid
    * (a diversity heuristic); this engine collapses each group to its
    * minimum-id member so the survivor set is a pure function of the
    * pair graph — oracle-replayable with no float comparisons in the
    * keep decision, and stable under re-clustering. Callers wanting
    * the paper's keeper can rank within [[nearDupClusters]] output by
    * centroid cosine (ties to id) before the anti-join.
    *
    * Skew guard: the within-cell self-join is quadratic PER CELL, so
    * one giant cell (bad k, or a degenerate clustering) dominates —
    * `maxCellSize > 0` drops cells above that size from PAIRING
    * (mirroring the LSH `dropOversizedBuckets` rule: their members
    * all survive — dedup degrades to a no-op on the skewed region
    * rather than a runaway join; re-train with a larger k to actually
    * dedup it). `maxIter`/`driverMaxPairs` pass through to
    * [[nearDupClusters]] so a pair-volume blowup fails with that
    * method's clear bound error instead of an opaque OOM.
    */
  def semDeDup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      threshold: Double,
      maxCellSize: Int = 0,
      maxIter: Int = 20,
      driverMaxPairs: Long = 1000000L): DataFrame = {
    import graft.similarity.{KMeans, Knn}
    val e0 = embeddings.select(
        col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Knn.norm(col("v")))
      .filter(col("nrm") > 0)
      .withColumn("cell", KMeans.clusterOf(col("v"), centroids))
    val e =
      if (maxCellSize > 0) dropOversizedBuckets(e0, "cell", maxCellSize)
      else e0
    val a = e.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("n_a"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("n_b"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        Knn.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val losers =
      nearDupClusters(pairs, maxIter = maxIter,
        driverMaxPairs = driverMaxPairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    embeddings.join(broadcast(losers), Seq(idCol), "left_anti")
  }
}
