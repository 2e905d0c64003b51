package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.multimodal.{AudioPrint, Multimodal, Phash, VideoPhash}
import graft.ops.Pins
import graft.text.TextOps

/** STREAMING multimodal manifest — the one-pass ingest composition of
  * the four per-modality gates: each arriving document (text + its
  * image/audio/video assets) gets the batch manifest's keep/drop row
  * (`q_multimodal_manifest`'s columns) AT INGEST TIME, instead of a
  * later batch recompute over the stored corpus.
  *
  * Per micro-batch ([[manifestBatch]] — a pure function of the batch
  * and the prior state, the [[ImageIngest.gateBatch]] idempotence
  * contract):
  *
  *  - text_keep  — exact first-seen on the md5 content fingerprint:
  *    within the batch a fingerprint group keeps its min-id member
  *    (the deterministic batch form of [[StreamDedup.firstSeen]]);
  *    a fingerprint recorded by ANY earlier epoch drops the whole
  *    group;
  *  - image_keep / audio_keep / video_keep — the hash-generic banded
  *    gate ([[ImageIngest.gateBatch]]) over that modality's 64-bit
  *    hash against that modality's own stored band index: per-batch
  *    connected components keep their min-id representative, and a
  *    component seen by any earlier epoch is dropped entirely;
  *  - n_kept / keep_all — the batch manifest's rollups, emitted per
  *    arriving document.
  *
  * BATCH PARITY: when the whole corpus arrives as ONE batch against
  * empty state, every gate reduces to its batch form (first-seen =
  * exact-dedup min-id; gate survivors = near-dup cluster
  * representatives), so the streaming manifest equals
  * `q_multimodal_manifest` row for row — pinned in
  * MultimodalIngestSpec. Across batches each column is the ONLINE
  * greedy form of its batch twin, exactly like the single-modality
  * gates; the per-modality compaction jobs
  * ([[ImageIngest.compactNearDups]], [[CorpusIngest.compactNearDups]])
  * remain the late-linking-edge repair path.
  *
  * Replay idempotence (the [[CorpusIngest.applyBatch]] discipline):
  * all five writes — the manifest rows plus the four state tables —
  * are partition-scoped to `runId.epoch`, and every state read
  * EXCLUDES the epoch's own partition, so a replayed epoch recomputes
  * the identical manifest against the identical earlier-epochs state
  * and rewrites only its own partitions.
  *
  * Scale: the text state is one 32-char fingerprint row per document
  * ever seen, hash-partitioned on fp for the anti-join; each modality
  * index is [[ImageIngest]]'s 4×36-byte band rows probed by one
  * (b, v) equi-join per batch — O(batch) work per epoch against
  * arbitrarily large history, never a stored-corpus scan. The
  * composition itself adds only doc_id equi-joins over batch-bounded
  * keep sets (the batch manifest's own argument).
  */
object MultimodalIngest {

  /** Stored text state: every (fingerprint, doc_id) ever seen. The
    * gate only probes the fp column (first-seen is an anti-join on
    * the fingerprint set); the doc_id makes the state sufficient for
    * OFFLINE recompute ([[recomputeManifest]]) — without it a late
    * repair could not re-elect the global min-id representative of a
    * fingerprint group whose members arrived out of id order.
    */
  val textIndexSchema: StructType = StructType(Seq(
    StructField("fp", StringType),
    StructField("doc_id", LongType),
    StructField("ingest_batch", StringType)))

  /** Persisted manifest rows. */
  val manifestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("epoch", LongType),
    StructField("text_keep", org.apache.spark.sql.types.BooleanType),
    StructField("image_keep", org.apache.spark.sql.types.BooleanType),
    StructField("audio_keep", org.apache.spark.sql.types.BooleanType),
    StructField("video_keep", org.apache.spark.sql.types.BooleanType),
    StructField("n_kept", org.apache.spark.sql.types.IntegerType),
    StructField("keep_all", org.apache.spark.sql.types.BooleanType),
    StructField("ingest_batch", StringType)))

  /** An empty text-fingerprint state (before the first epoch). */
  def emptyTextSeen(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(textIndexSchema.dropRight(1)))

  /** Gate one batch across all four modalities and emit the manifest
    * row per arriving document. Pure function of (batch, state).
    *
    * `docs` is the arriving (doc_id, text) batch; each hash frame is
    * that modality's (asset_id, ph_hi, ph_lo) for the SAME ids (the
    * caller decodes/hashes — fingerprint columns renamed to the
    * gate's generic ph names); each index is that modality's stored
    * band rows `(b, v, ph_hi, ph_lo)`; `textSeen` is the stored
    * fingerprint set `(fp)`.
    */
  def manifestBatch(
      spark: SparkSession,
      docs: DataFrame,
      imageHashes: DataFrame,
      audioHashes: DataFrame,
      videoHashes: DataFrame,
      textSeen: DataFrame,
      imageIndex: DataFrame,
      audioIndex: DataFrame,
      videoIndex: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    // the batch feeds the fingerprint gate AND the id spine —
    // materialize once (micro-batch-bounded), skipped if the caller
    // already did
    val fp = Pins.materializeOnce(
      docs.select(col("doc_id").cast("long").as("doc_id"),
        TextOps.fingerprint(col("text")).as("fp")))
    val textKeep = fp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(textSeen.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), lit(true).as("tk"))
    def gateKeep(hashes: DataFrame, index: DataFrame, flag: String) =
      ImageIngest.gateBatch(spark, hashes, index, maxHamming)
        .select(col("asset_id").as("doc_id"), lit(true).as(flag))
    fp.select(col("doc_id"))
      .join(textKeep, Seq("doc_id"), "left")
      .join(gateKeep(imageHashes, imageIndex, "ik"), Seq("doc_id"), "left")
      .join(gateKeep(audioHashes, audioIndex, "ak"), Seq("doc_id"), "left")
      .join(gateKeep(videoHashes, videoIndex, "vk"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tk"), lit(false)).as("text_keep"),
        coalesce(col("ik"), lit(false)).as("image_keep"),
        coalesce(col("ak"), lit(false)).as("audio_keep"),
        coalesce(col("vk"), lit(false)).as("video_keep"))
      .select(col("doc_id"), col("text_keep"), col("image_keep"),
        col("audio_keep"), col("video_keep"),
        (col("text_keep").cast("int") + col("image_keep").cast("int") +
          col("audio_keep").cast("int") + col("video_keep").cast("int"))
          .as("n_kept"),
        (col("text_keep") && col("image_keep") && col("audio_keep") &&
          col("video_keep")).as("keep_all"))
  }

  /** One micro-batch of the sink: read every state table EXCLUDING
    * this epoch's partition, gate, persist the manifest rows into
    * this epoch's partition, and record ALL batch state (fingerprints
    * and band rows, kept and dropped — later epochs must see
    * everything) into each state table's own epoch partition.
    */
  def applyBatch(
      spark: SparkSession,
      docs: DataFrame, // (doc_id, text)
      imageHashes: DataFrame, // (asset_id, ph_hi, ph_lo)
      audioHashes: DataFrame,
      videoHashes: DataFrame,
      store: TableStore,
      manifestTable: String,
      textIndexTable: String,
      imageIndexTable: String,
      audioIndexTable: String,
      videoIndexTable: String,
      epoch: Long,
      runId: String = "",
      maxHamming: Int = 3): Unit = {
    val part = CorpusIngest.epochPartition(runId, epoch)
    def index(table: String): DataFrame =
      store.read(spark, table, ImageIngest.indexSchema)
        .filter(col("ingest_batch") =!= part)
        .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
    val textSeen = store.read(spark, textIndexTable, textIndexSchema)
      .filter(col("ingest_batch") =!= part)
      .select(col("fp"))
    // each input feeds the gate AND its state recording — pin once
    val d = docs.localCheckpoint()
    val ih = Pins.materializeOnce(imageHashes)
    val ah = Pins.materializeOnce(audioHashes)
    val vh = Pins.materializeOnce(videoHashes)
    val manifest = manifestBatch(spark, d, ih, ah, vh,
      textSeen, index(imageIndexTable), index(audioIndexTable),
      index(videoIndexTable), maxHamming)
    store.overwritePartitions(manifestTable,
      manifest.withColumn("epoch", lit(epoch))
        .withColumn("ingest_batch", lit(part))
        .select("doc_id", "epoch", "text_keep", "image_keep",
          "audio_keep", "video_keep", "n_kept", "keep_all",
          "ingest_batch"),
      "ingest_batch", Seq(part))
    store.overwritePartitions(textIndexTable,
      d.select(TextOps.fingerprint(col("text")).as("fp"),
          col("doc_id").cast("long").as("doc_id")).distinct()
        .withColumn("ingest_batch", lit(part)),
      "ingest_batch", Seq(part))
    ImageIngest.recordBands(store, imageIndexTable, ih, part)
    ImageIngest.recordBands(store, audioIndexTable, ah, part)
    ImageIngest.recordBands(store, videoIndexTable, vh, part)
  }

  /** Start the composed ingest stream over raw multimodal rows
    * `(doc_id, text, image, audio, video)` (binary payload columns):
    * per micro-batch, REAL decode → per-modality 64-bit hash →
    * [[applyBatch]]'s gate-and-persist. `runId` namespaces epoch
    * partitions exactly as in [[CorpusIngest.start]].
    */
  def start(
      spark: SparkSession,
      docsWithAssets: DataFrame,
      store: TableStore,
      manifestTable: String,
      textIndexTable: String,
      imageIndexTable: String,
      audioIndexTable: String,
      videoIndexTable: String,
      checkpointDir: String,
      runId: String = "",
      maxHamming: Int = 3): StreamingQuery = {
    import spark.implicits._
    docsWithAssets.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val b = batch.localCheckpoint()
        def assets(payload: String, mime: String) =
          b.select(col("doc_id").cast("long").as("asset_id"),
            lit(mime).as("mime"), col(payload).as("payload"))
            .as[Multimodal.Asset]
        val ih = Phash.phash64(spark, assets("image", "image/png")).toDF()
        val ah = AudioPrint.audioprint64(spark, assets("audio", "audio/wav"))
          .toDF()
          .select(col("asset_id"), col("fp_hi").as("ph_hi"),
            col("fp_lo").as("ph_lo"))
        val vh = VideoPhash.signature(spark, assets("video", "video/avi"))
          .toDF()
          .select(col("asset_id"), col("sig_hi").as("ph_hi"),
            col("sig_lo").as("ph_lo"))
        applyBatch(spark, b.select(col("doc_id"), col("text")),
          ih, ah, vh, store, manifestTable, textIndexTable,
          imageIndexTable, audioIndexTable, videoIndexTable,
          epoch, runId, maxHamming)
      }
      .start()
  }

  /** Read the persisted manifest back. */
  def manifest(spark: SparkSession, store: TableStore, table: String): DataFrame =
    store.read(spark, table, manifestSchema)

  /** The OFFLINE manifest over accumulated ingest state — the batch
    * manifest (`q_multimodal_manifest`'s keep/drop semantics) of
    * everything the stream has EVER seen, recomputed from the state
    * tables alone:
    *
    *  - text_keep: the document is the global min-id member of its
    *    fingerprint group (over `textState`'s `(doc_id, fp)` rows —
    *    kept AND dropped sightings);
    *  - image/audio/video keep: the document is the min-id member of
    *    its GLOBAL radius-`maxHamming` near-dup component, clustered
    *    over that modality's full band index (again: kept and dropped
    *    sightings — exactly so a late-arriving linking member joins
    *    the chains it connects).
    *
    * Contract: the composed stream records every modality's hash for
    * every arriving document ([[applyBatch]]), so each index covers
    * the full doc spine; a document absent from a modality's index
    * ENTIRELY (a decode drop upstream of [[applyBatch]]) carries that
    * modality's keep = false — the same coalesce default
    * [[manifestBatch]] applies to a document missing from a gate's
    * output, so repair can only correct flags, never invert a batch
    * drop into a keep (ADVICE r15). A null doc_id in `textState`
    * (a pre-doc_id legacy partition read back under the current
    * schema) fails the job loudly instead of electing a null spine
    * row and silently corrupting every keep flag.
    */
  def manifestOffline(
      spark: SparkSession,
      textState: DataFrame, // (doc_id, fp), every sighting
      imageIndex: DataFrame, // band rows: (asset_id, ph_hi, ph_lo, ...)
      audioIndex: DataFrame,
      videoIndex: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    // legacy-state guard: rides the existing scan as one row-level
    // assertion (no extra action) — nulls here mean the state predates
    // the (fp, doc_id) schema and CANNOT be repaired from
    val spine = textState.select(
      when(col("doc_id").isNull,
        raise_error(lit("manifestOffline: null doc_id in text state — " +
          "pre-doc_id legacy partitions cannot be repaired from")))
        .otherwise(col("doc_id")).as("doc_id"),
      col("fp"))
    val ids = spine.select(col("doc_id")).distinct()
    val textKeeps = spine.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("tk"))
    def keeps(index: DataFrame, flag: String): DataFrame = {
      // one hash row per seen asset (the index carries 4 band rows);
      // pinned once — the pair join and the presence spine both read it
      val seen = Pins.materializeOnce(index
        .select(col("asset_id"), col("ph_hi"), col("ph_lo")).distinct())
      val dropped = graft.dedup.Dedup.nearDupClusters(
          Phash.neardupPairs(seen, "asset_id", maxHamming)
            .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(true).as("_dropped"))
      // keep = present in the index AND not a dropped cluster member —
      // a doc absent from the index entirely then coalesces to FALSE
      // below, the SAME default manifestBatch applies to a doc missing
      // from a gate's output (ADVICE r15: the old absent→true default
      // silently inverted batch drops on decode-dropped documents)
      seen.select(col("asset_id").as("doc_id"))
        .join(dropped, Seq("doc_id"), "left")
        .select(col("doc_id"), col("_dropped").isNull.as(flag))
    }
    ids
      .join(textKeeps, Seq("doc_id"), "left")
      .join(keeps(imageIndex, "ik"), Seq("doc_id"), "left")
      .join(keeps(audioIndex, "ak"), Seq("doc_id"), "left")
      .join(keeps(videoIndex, "vk"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tk"), lit(false)).as("text_keep"),
        coalesce(col("ik"), lit(false)).as("image_keep"),
        coalesce(col("ak"), lit(false)).as("audio_keep"),
        coalesce(col("vk"), lit(false)).as("video_keep"))
      .select(col("doc_id"), col("text_keep"), col("image_keep"),
        col("audio_keep"), col("video_keep"),
        (col("text_keep").cast("int") + col("image_keep").cast("int") +
          col("audio_keep").cast("int") + col("video_keep").cast("int"))
          .as("n_kept"),
        (col("text_keep") && col("image_keep") && col("audio_keep") &&
          col("video_keep")).as("keep_all"))
  }

  /** The manifest's COMPACTION job (the [[ImageIngest
    * .compactNearDups]] discipline lifted to the composition): the
    * online manifest is the greedy form of the batch manifest, so a
    * chain whose LINKING member arrives late — A, then C (not near
    * A), then B (near both) — keeps both A and C, and a fingerprint
    * group whose min-id member arrives after a larger-id sibling
    * keeps the wrong representative. This job recomputes the OFFLINE
    * manifest from the accumulated state tables
    * ([[manifestOffline]]), re-attaches each document's original
    * `(epoch, ingest_batch)` partition identity, and rewrites the
    * manifest table as ONE new version (compare-and-flip via
    * `expectVersion` — single-writer contract as in the per-modality
    * compactions). Returns the number of rows whose keep flags
    * changed.
    */
  def recomputeManifest(
      spark: SparkSession,
      store: TableStore,
      manifestTable: String,
      textIndexTable: String,
      imageIndexTable: String,
      audioIndexTable: String,
      videoIndexTable: String,
      maxHamming: Int = 3): Long = {
    val v0 = store.currentVersion(manifestTable)
    val textState = store.read(spark, textIndexTable, textIndexSchema)
      .select(col("doc_id"), col("fp")).distinct()
    def idx(table: String): DataFrame =
      store.read(spark, table, ImageIngest.indexSchema)
    val offline = manifestOffline(spark, textState,
      idx(imageIndexTable), idx(audioIndexTable), idx(videoIndexTable),
      maxHamming)
    val cur = manifest(spark, store, manifestTable)
    // corrected rows keep their document's original partition
    // identity, so the rewrite stays partition-aligned with the
    // epoch-scoped writes that built the table. Checkpoint before
    // comparing: the repaired frame feeds both the changed-count and
    // the overwrite, and the offline clustering above is the
    // expensive subtree.
    val repaired = cur
      .select(col("doc_id"), col("epoch"), col("ingest_batch"))
      .join(offline, Seq("doc_id"))
      .select(col("doc_id"), col("epoch"), col("text_keep"),
        col("image_keep"), col("audio_keep"), col("video_keep"),
        col("n_kept"), col("keep_all"), col("ingest_batch"))
      .localCheckpoint()
    val changed = repaired.alias("r")
      .join(cur.alias("c"), Seq("doc_id"))
      .filter(col("r.text_keep") =!= col("c.text_keep") ||
        col("r.image_keep") =!= col("c.image_keep") ||
        col("r.audio_keep") =!= col("c.audio_keep") ||
        col("r.video_keep") =!= col("c.video_keep"))
      .count()
    store.overwrite(manifestTable, repaired,
      partitionBy = Seq("ingest_batch"), expectVersion = Some(v0))
    changed
  }
}
