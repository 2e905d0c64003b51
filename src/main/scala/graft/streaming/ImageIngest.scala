package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.multimodal.{Multimodal, Phash}
import graft.ops.Pins

/** Image-modality streaming ingest gate — the pHash twin of the text
  * pipeline's first-seen exact dedup ([[CorpusIngest]] step 2): an
  * incoming image micro-batch is collapsed to near-duplicate
  * representatives and gated against every image ANY earlier batch
  * has seen, so a re-crawled, re-encoded, or lightly-edited image is
  * dropped without ever scanning the stored image corpus.
  *
  * The checkpointed state is a [[TableStore]]-persisted BAND INDEX:
  * the 4×16-bit pigeonhole band rows ([[Phash.bandRows]]) of every
  * image ever seen, partitioned by ingest epoch. Near-duplicate
  * testing against the whole history is then one equality join on
  * `(band, value)` + the exact Hamming verification filter — the
  * [[Phash.neardupPairs]] plan shape probing stored state instead of
  * a self-join, never an all-pairs compare. Exactness: radius ≤ 3
  * guarantees a matching band by pigeonhole, and the verify filter
  * removes band-collision false candidates, so the gate's "seen"
  * predicate is EXACT, not approximate.
  *
  * Batch semantics (pinned in ImageIngestSpec): one micro-batch is
  * gated as a unit — connected components over the batch's own
  * radius-`maxHamming` pair graph ([[graft.dedup.Dedup
  * .nearDupClusters]]); a component keeps its smallest-id
  * representative, and a component ANY member of which is within
  * radius of an indexed (already-seen) hash is dropped entirely
  * (its content entered the corpus through the earlier sighting).
  * When the whole corpus arrives as one batch against an empty
  * index, this reduces exactly to the batch
  * `q_image_dedup_clusters` representative set — the batch-parity
  * contract. Across batches the gate is the ONLINE greedy form:
  * dropped images' bands are still recorded (seen is seen), so
  * transitive chains collapse to their first-seen member; an
  * offline re-cluster ([[CorpusIngest.compactNearDups]]'s image
  * analogue) remains the periodic compaction path for chains whose
  * linking edge arrives only later.
  *
  * Replay idempotence (the [[CorpusIngest.applyBatch]] discipline):
  * both writes are partition-scoped to `runId.epoch`, and the gate
  * reads the index EXCLUDING its own partition — a replayed epoch
  * recomputes the identical survivor set against the identical
  * earlier-epochs state and rewrites only its own partitions.
  *
  * Scale: the index join is hash-partitioned on `(b, v)` (4 rows per
  * seen image — 36 bytes each, ~1.4 PB-scale corpus ⇒ a few TB of
  * index, fine for a shuffle join); the optional `bandBloom` gives
  * the map-side fast path of the text historical gate
  * ([[graft.dedup.Dedup.exactBloomIndex]]): band rows whose `(b, v)`
  * key misses the Bloom are certainly unindexed and skip the join
  * entirely — EXACT, because a Bloom has no false negatives and a
  * false positive merely pays the join it would have paid anyway.
  */
object ImageIngest {

  /** Band-index rows: 4 per seen image. */
  val indexSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("ph_hi", LongType),
    StructField("ph_lo", LongType),
    StructField("b", IntegerType),
    StructField("v", LongType),
    StructField("ingest_batch", StringType)))

  /** Kept (representative) images. */
  val storedSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("ph_hi", LongType),
    StructField("ph_lo", LongType),
    StructField("ingest_batch", StringType)))

  /** An empty band index (the before-first-epoch state). */
  def emptyIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(indexSchema.dropRight(1)))

  /** The Bloom key of one band row — `"b:v"` over the same UTF-8
    * byte contract as [[graft.functions.GraftFunctions
    * .bloomMightContain]].
    */
  private def bandKey(b: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(b.cast("string"), lit(":"), v.cast("string"))

  /** Build the map-side Bloom over an index's `(b, v)` keys —
    * [[graft.dedup.Dedup.exactBloomIndex]] over the band space.
    * Size `expectedItems` to the TARGET corpus ceiling ×4 (bands per
    * image) for merge-compatible increments.
    */
  def bandBloom(
      index: DataFrame,
      expectedItems: Long = 0L,
      fpp: Double = 0.01): Array[Byte] =
    graft.dedup.Dedup.exactBloomIndex(
      index.select(bandKey(col("b"), col("v")).as("fp")),
      expectedItems, fpp)

  /** Gate one batch of image hashes `(asset_id, ph_hi, ph_lo)`
    * against an index of previously-seen band rows
    * `(b, v, ph_hi, ph_lo)`: returns the kept representatives
    * (same three columns). Pure function of (batch, index) — the
    * idempotence the streaming sink relies on.
    */
  def gateBatch(
      spark: SparkSession,
      hashes: DataFrame,
      index: DataFrame,
      maxHamming: Int = 3,
      indexBloom: Option[Array[Byte]] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band pigeonhole guarantees exactness only to Hamming 3, " +
        s"got $maxHamming")
    // the batch is re-read by three consumers (seen probe, pair join,
    // cluster labeling) — materialize once, micro-batch-bounded;
    // Pins.materializeOnce skips the copy when the caller already
    // checkpointed the frame (the two-epoch gate queries and
    // applyBatch both do), instead of stacking eager copies per call
    val h = Pins.materializeOnce(
      hashes.select(col("asset_id").cast("long").as("asset_id"),
        col("ph_hi").cast("long").as("ph_hi"),
        col("ph_lo").cast("long").as("ph_lo")))
    val probeAll = Phash.bandRows(h)
    // Bloom fast path: a band key missing from the Bloom is certainly
    // not indexed (no false negatives), so only might-contain rows
    // pay the shuffle join — the text historical gate's plan shape
    val probe = indexBloom.fold(probeAll) { bytes =>
      probeAll.filter(coalesce(
        graft.functions.GraftFunctions.bloomMightContain(
          bandKey(col("b"), col("v")), bytes),
        lit(false)))
    }
    val seen = probe
      .join(index.select(col("b"), col("v"),
        col("ph_hi").as("x_hi"), col("ph_lo").as("x_lo")), Seq("b", "v"))
      .filter(
        (bit_count(col("ph_hi").bitwiseXOR(col("x_hi"))) +
          bit_count(col("ph_lo").bitwiseXOR(col("x_lo")))) <= maxHamming)
      .select(col("asset_id")).distinct()
    val clusters = graft.dedup.Dedup.nearDupClusters(
      Phash.neardupPairs(h, "asset_id", maxHamming)
        .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
    // isolated images (no intra-batch pair) are their own component
    val labeled = h.join(
        clusters.withColumnRenamed("doc_id", "asset_id"),
        Seq("asset_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("asset_id")))
    // a component touching the index anywhere is dropped entirely:
    // the seen member proves its content entered the corpus earlier
    val contaminated = labeled.join(seen, Seq("asset_id"), "left_semi")
      .select(col("cid")).distinct()
    labeled
      .join(contaminated.withColumnRenamed("cid", "bad_cid"),
        col("cid") === col("bad_cid"), "left_anti")
      .filter(col("asset_id") === col("cid")) // min-id representative
      .select(col("asset_id"), col("ph_hi"), col("ph_lo"))
  }

  /** One micro-batch of the sink: gate against every EARLIER epoch's
    * band index, persist survivors into this epoch's partition of
    * `imagesTable`, and record ALL batch band rows (kept and dropped
    * — later batches must see everything) into this epoch's partition
    * of `indexTable`. Both writes are [[TableStore
    * .overwritePartitions]]-scoped to `runId.epoch`, so replay
    * rewrites, never appends twice; the index read excludes the
    * epoch's own partition, so a replayed epoch gates against exactly
    * the state its first run saw.
    */
  def applyBatch(
      spark: SparkSession,
      hashes: DataFrame, // (asset_id, ph_hi, ph_lo)
      store: TableStore,
      imagesTable: String,
      indexTable: String,
      epoch: Long,
      runId: String = "",
      maxHamming: Int = 3): Unit = {
    val part = CorpusIngest.epochPartition(runId, epoch)
    val index = store.read(spark, indexTable, indexSchema)
      .filter(col("ingest_batch") =!= part)
      .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
    // the gate and the band recording both consume the batch hashes —
    // pin them once (gateBatch checkpoints internally; this keeps the
    // recording consistent with what was gated under source retries)
    val h = hashes.localCheckpoint()
    val kept = gateBatch(spark, h, index, maxHamming)
    recordBands(store, indexTable, h, part)
    store.overwritePartitions(imagesTable,
      kept.withColumn("ingest_batch", lit(part)),
      "ingest_batch", Seq(part))
  }

  /** Record every band row of `hashes` `(asset_id, ph_hi, ph_lo)`
    * into partition `part` of band-index `table` ([[indexSchema]]).
    */
  private[streaming] def recordBands(store: TableStore, table: String,
      hashes: DataFrame, part: String): Unit =
    store.overwritePartitions(table,
      Phash.bandRows(hashes).select(col("asset_id"), col("ph_hi"),
        col("ph_lo"), col("b"), col("v"), lit(part).as("ingest_batch")),
      "ingest_batch", Seq(part))

  /** Start the image ingest stream over raw image assets
    * `(asset_id, mime, payload)`: per micro-batch, REAL decode →
    * pHash ([[Phash.phash64]]), then [[applyBatch]]'s gate-and-
    * persist. `runId` namespaces epoch partitions exactly as in
    * [[CorpusIngest.start]] (mandatory for restarts with fresh
    * checkpoints — same destructive-collision argument).
    */
  def start(
      spark: SparkSession,
      assets: DataFrame, // streaming (asset_id, mime, payload)
      store: TableStore,
      imagesTable: String,
      indexTable: String,
      checkpointDir: String,
      runId: String = "",
      maxHamming: Int = 3): StreamingQuery = {
    import spark.implicits._
    assets.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val hashes =
          Phash.phash64(spark, batch.as[Multimodal.Asset]).toDF()
        applyBatch(spark, hashes, store, imagesTable, indexTable,
          epoch, runId, maxHamming)
      }
      .start()
  }

  /** Read the kept-image table back. */
  def images(spark: SparkSession, store: TableStore, table: String): DataFrame =
    store.read(spark, table, storedSchema)

  /** The periodic compaction the per-batch gate defers to (the
    * [[CorpusIngest.compactNearDups]] discipline, image modality):
    * the ONLINE gate can only compare an arrival against what it has
    * already seen, so a chain whose LINKING member arrives last —
    * A, then C (not near A), then B (near both) — keeps A and C even
    * though offline clustering would collapse {A, B, C}. This job
    * re-clusters over ALL seen hashes (the band index — kept AND
    * dropped sightings, exactly so dropped links like B still
    * connect), keeps each component's smallest-id STORED image, and
    * rewrites the images table as one new version (compare-and-flip
    * via `expectVersion`; single-writer contract as in the text
    * twin). Returns the number of images dropped.
    */
  def compactNearDups(
      spark: SparkSession,
      store: TableStore,
      imagesTable: String,
      indexTable: String,
      maxHamming: Int = 3): Long = {
    val v0 = store.currentVersion(imagesTable)
    // one hash row per seen asset (the index carries 4 band rows each)
    val seen = store.read(spark, indexTable, indexSchema)
      .select(col("asset_id"), col("ph_hi"), col("ph_lo")).distinct()
    val clusters = graft.dedup.Dedup.nearDupClusters(
      Phash.neardupPairs(seen, "asset_id", maxHamming)
        .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
    val cur = images(spark, store, imagesTable)
    val labeled = cur.join(
        clusters.withColumnRenamed("doc_id", "asset_id"),
        Seq("asset_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("asset_id")))
    // min-id STORED member per component (the component's global min
    // may be a dropped sighting that never reached the table)
    val keepIds = labeled.groupBy(col("cid"))
      .agg(min(col("asset_id")).as("keep_id"))
      .select(col("keep_id").as("asset_id"))
    val kept = cur.join(keepIds, Seq("asset_id"), "left_semi").persist()
    try {
      val dropped = cur.count() - kept.count()
      store.overwrite(imagesTable, kept,
        partitionBy = Seq("ingest_batch"), expectVersion = Some(v0))
      dropped
    } finally kept.unpersist()
  }
}
