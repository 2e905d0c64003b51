package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.text.TextOps

/** Flagship streaming corpus-ingest pipeline: the composition a
  * pretraining-data platform runs against a live document feed
  * (crawl, upload queue, Kafka topic), built entirely from the
  * engine's proven operators:
  *
  *   1. quality gate      — [[TextOps.qualityOk]], stateless scan
  *      filter;
  *   2. exact dedup       — [[StreamDedup.firstSeen]] keyed on the
  *      md5 content fingerprint: checkpointed streaming state, so a
  *      document seen in ANY earlier batch is dropped without ever
  *      scanning the stored corpus (the O(1)-per-doc incremental
  *      form of the batch fingerprint groupBy);
  *   3. historical-corpus gate (optional) — a stored fingerprint
  *      index + Bloom pair ([[graft.dedup.Dedup.exactBloomIndex]])
  *      drops documents already in a corpus built BEFORE this
  *      stream existed (backfill / migration / fresh-checkpoint
  *      restart — the cases first-seen state cannot know about);
  *      probe-negatives pass map-side, residue is verified exactly;
  *   4. LM perplexity gate (optional) — [[graft.text.LangModel
  *      .scoreDocs]] against an offline-trained (usually pruned →
  *      broadcastable) bigram LM, per micro-batch, stateless;
  *   5. DSIR distribution gate (optional) — [[graft.text.Dsir
  *      .scoreDocs]] against an offline-fit bounded ratio table,
  *      keeping documents whose log importance ratio clears a
  *      minimum (the importance-weighted filter deployment; the
  *      resampling deployment is a batch job), stateless;
  *   6. decontamination   — [[graft.dedup.Dedup.decontaminate]]
  *      against a static benchmark set, broadcast per micro-batch;
  *   7. partition-scoped persist — survivors land in a
  *      [[TableStore]] partition keyed by the micro-batch epoch via
  *      `overwritePartitions`: write cost O(|batch|), and a replayed
  *      epoch (failure/restart) rewrites ITS OWN partition rather
  *      than appending twice — the sink-side idempotence that turns
  *      at-least-once replay into exactly-once table contents.
  *
  * Near-dup collapse (MinHash/SemDeDup) deliberately stays OUT of the
  * per-batch path: candidate generation against the full corpus is a
  * periodic compaction job ([[graft.dedup.Dedup.dedupCorpus]] /
  * `dedupAgainstCorpusLsh` over the stored table), not a per-event
  * obligation — the reference's hourly-sync cadence applied to
  * corpus hygiene.
  */
object CorpusIngest {

  val storedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("fp", StringType),
    StructField("ingest_batch", StringType)))

  /** The stateless+stateful streaming prefix: rule quality gate, an
    * optional learned-model score gate (a [[graft.text.QualityModel]]
    * `scoreColumn` with its minimum — stateless, so it composes into
    * the stream exactly like the rule gate), then first-seen exact
    * dedup on the content fingerprint. Exposed for tests and for
    * callers wiring their own sink.
    */
  def cleanStream(
      spark: SparkSession,
      docs: DataFrame,
      scoreGate: Option[(org.apache.spark.sql.Column, Double)] = None)
      : Dataset[(String, Long, String)] = {
    import spark.implicits._
    val ruleGated = docs.filter(TextOps.qualityOk(col("text")))
    val gated = scoreGate
      .fold(ruleGated) { case (score, min) =>
        ruleGated.filter(score >= lit(min))
      }
      .select(TextOps.fingerprint(col("text")).as("fp"),
        col("doc_id").cast("long").as("doc_id"), col("text"))
      .as[(String, Long, String)]
    StreamDedup.firstSeen[String, (String, Long, String)](
      spark, gated, _._1)
  }

  /** Start the ingest query. `bench` is the static benchmark set
    * (doc_id, text) scrubbed against; `store`/`table` receive the
    * surviving documents partitioned by epoch. `lmGate` is an
    * OFFLINE-trained bigram LM with a minimum mean log-probability —
    * the CCNet deployment shape (the perplexity model is trained on a
    * trusted corpus beforehand, typically [[graft.text.LangModel
    * .prune]]d so its tables broadcast; per micro-batch the gate is
    * two broadcast joins, no state).
    */
  def start(
      spark: SparkSession,
      docs: DataFrame,
      bench: DataFrame,
      store: TableStore,
      table: String,
      checkpointDir: String,
      shingleLen: Int = 4,
      scoreGate: Option[(org.apache.spark.sql.Column, Double)] = None,
      lmGate: Option[(graft.text.LangModel.BigramLm, Double)] = None,
      dsirGate: Option[(graft.text.Dsir.DsirModel, Double)] = None,
      historical: Option[(DataFrame, Array[Byte])] = None,
      runId: String = ""): StreamingQuery = {
    // the historical gate exists for exactly the situations where a
    // NEW stream incarnation (fresh checkpoint ⇒ epoch numbering
    // restarts at 0) writes into a table an OLDER incarnation filled:
    // without a per-incarnation namespace, replayed epoch numbers
    // collide with stored partitions and — because the gate correctly
    // drops the re-seen documents — overwritePartitions would replace
    // the stored partition with the (possibly empty) survivor set,
    // silently ERASING it. So the gate refuses to run un-namespaced.
    require(historical.isEmpty || runId.nonEmpty,
      "historical gate without a runId: a fresh-checkpoint restart " +
        "reuses epoch numbers, and gated (emptied) batches would " +
        "overwrite the very partitions the gate is protecting — pass " +
        "a runId unique to this stream incarnation")
    cleanStream(spark, docs, scoreGate).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[(String, Long, String)], epoch: Long) =>
        applyBatch(spark, batch.toDF("fp", "doc_id", "text"),
          bench, store, table, epoch, shingleLen, lmGate, dsirGate,
          historical, runId)
      }
      .start()
  }

  /** The sink partition of one epoch: `runId.epoch`, or the bare
    * epoch without a runId. runId namespaces the epoch so partition
    * identity is (incarnation, epoch): replay WITHIN an incarnation
    * still rewrites its own partition (idempotence), while a later
    * incarnation's epoch 0 can never clobber an earlier one's.
    */
  private[streaming] def epochPartition(runId: String, epoch: Long): String =
    if (runId.isEmpty) epoch.toString else s"$runId.$epoch"

  /** One micro-batch: historical-corpus gate (if configured),
    * LM-score gate (if configured), decontaminate, then persist
    * survivors into the epoch's own partition (idempotent under
    * replay — the gates are deterministic functions of the batch and
    * static model/index state, so a replayed epoch recomputes the
    * identical survivor set).
    *
    * `historical` closes the window [[StreamDedup.firstSeen]] cannot
    * see: its checkpointed state only knows documents seen by THIS
    * stream, so a corpus built before the stream started (a batch
    * backfill, a migration, a restart with a fresh checkpoint) would
    * be re-ingested wholesale. The pair is ([[graft.dedup.Dedup
    * .exactFingerprintIndex]]-shaped fp frame — the stored table's
    * own `fp` column suffices — and its [[graft.dedup.Dedup
    * .exactBloomIndex]]). Applied FIRST, before any scoring work:
    * probe-negative rows are certainly new and skip the index
    * entirely (map-side, zero exchanges — the
    * [[graft.dedup.Dedup.exactAgainstCorpus]] plan shape); only
    * probe-positive residue pays the anti-join verify, so the gate
    * is EXACT — an fpp collision cannot drop a novel document.
    *
    * `runId` namespaces the epoch partition (`runId.epoch`) so that
    * a new stream incarnation — whose epoch numbering restarts at 0 —
    * cannot overwrite an earlier incarnation's partitions; mandatory
    * with `historical` in [[start]] because the gate makes that
    * collision destructive (a fully-gated replayed batch would write
    * an EMPTY survivor set over stored data).
    */
  def applyBatch(
      spark: SparkSession,
      batch: DataFrame, // (fp, doc_id, text)
      bench: DataFrame,
      store: TableStore,
      table: String,
      epoch: Long,
      shingleLen: Int = 4,
      lmGate: Option[(graft.text.LangModel.BigramLm, Double)] = None,
      dsirGate: Option[(graft.text.Dsir.DsirModel, Double)] = None,
      historical: Option[(DataFrame, Array[Byte])] = None,
      runId: String = ""): Unit = {
    val fresh = historical.fold(batch) { case (index, bloom) =>
      val known = coalesce(
        graft.functions.GraftFunctions.bloomMightContain(col("fp"), bloom),
        lit(false))
      batch.filter(!known).unionByName(
        batch.filter(known)
          .join(index.select(col("fp")), Seq("fp"), "left_anti"))
    }
    // no-evidence-means-drop: a document too short to form a bigram
    // scores NULL, and `NULL >= min` filters it out at ANY threshold —
    // deliberate (a quality gate should not pass documents it cannot
    // score), pinned in CorpusIngestSpec
    val gated = lmGate.fold(fresh) { case (lm, min) =>
      val keep = graft.text.LangModel
        .scoreDocs(fresh, "doc_id", "text", lm)
        .filter(col("lm_score") >= lit(min))
        .select(col("doc_id"))
      fresh.join(keep, Seq("doc_id"), "left_semi")
    }
    // DSIR distribution gate: keep documents whose hashed-ngram log
    // importance ratio (target-likeness vs the raw pool the model was
    // fit on) clears `min` — the importance-weighted FILTER deployment
    // of DSIR (the resampling deployment is Dsir.resample, a batch
    // job, not a stream gate). Unlike the LM gate, every document
    // scores (an empty doc has an exact-zero weight), so `min` alone
    // decides no-evidence documents — threshold above 0 to drop them
    val matched = dsirGate.fold(gated) { case (model, min) =>
      val keep = graft.text.Dsir.scoreDocs(gated, "doc_id", "text", model)
        .filter(col("dsir_logw") >= lit(min))
        .select(col("doc_id"))
      gated.join(keep, Seq("doc_id"), "left_semi")
    }
    val leaked = graft.dedup.Dedup
      .decontaminate(matched, bench, "doc_id", "text", shingleLen)
      .select(col("doc_id"))
    val clean = matched.join(leaked, Seq("doc_id"), "left_anti")
    val part = epochPartition(runId, epoch)
    val out = clean.select(
      col("doc_id"), col("text"), col("fp"),
      lit(part).as("ingest_batch"))
    // an all-dropped batch still writes (an empty partition simply
    // drops out of the manifest) so replay stays idempotent
    store.overwritePartitions(table, out, "ingest_batch", Seq(part))
  }

  /** Read the full ingested corpus back. */
  def corpus(spark: SparkSession, store: TableStore, table: String): DataFrame =
    store.read(spark, table, storedSchema)

  /** The periodic compaction the per-batch path defers to (see the
    * class note): collapse near-duplicate clusters across the WHOLE
    * stored corpus — cross-epoch, which the per-batch gates cannot
    * see — to their minimum-id representative
    * ([[graft.dedup.Dedup.dedupCorpus]]: LSH candidates, exact
    * verification, clustering, broadcast anti-join of the loser set),
    * and rewrite the table as ONE new version. The rewrite also folds
    * the read fan-out back down: every incremental epoch write grows
    * [[TableStore.liveVersionCount]] by one, and compaction returns it
    * to 1 while keeping the epoch lineage column intact. Returns the
    * number of documents dropped.
    *
    * Single-writer contract: run with the ingest stream QUIESCED
    * (stopped, or between `foreachBatch` invocations under external
    * scheduling) — the TableStore is single-writer, and a compaction
    * racing an epoch write would rewrite a stale snapshot over the
    * new epoch. As a backstop the rewrite publishes compare-and-flip
    * ([[TableStore.overwrite]]'s `expectVersion`): the version is
    * re-checked immediately before the pointer flip — i.e. AFTER the
    * dedup computation and the write job, the windows an epoch can
    * actually land in — and the publish aborts (nothing flipped, the
    * raced epoch's data intact in its own staging-written version)
    * if the table advanced.
    */
  def compactNearDups(
      spark: SparkSession,
      store: TableStore,
      table: String): Long = {
    val v0 = store.currentVersion(table)
    val cur = corpus(spark, store, table)
    // cache the survivor set: it is consumed twice (count + rewrite),
    // and each uncached pass would re-run the whole LSH/verify/cluster
    // dedup lineage over the stored corpus
    val kept = graft.dedup.Dedup.dedupCorpus(cur, "doc_id", "text")
      .persist()
    try {
      val dropped = cur.count() - kept.count()
      // compare-and-flip publish: the version re-check runs inside
      // overwrite right before the pointer flip, covering the write
      // job itself, not just the dedup computation above
      store.overwrite(table, kept, partitionBy = Seq("ingest_batch"),
        expectVersion = Some(v0))
      dropped
    } finally kept.unpersist()
  }
}
