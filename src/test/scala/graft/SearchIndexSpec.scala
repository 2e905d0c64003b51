package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.TableStore
import graft.text.{SearchIndex, TextOps}

class SearchIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple apple banana cherry"),
    (2L, "banana date date date"),
    (3L, "egg fig grape"),
    (4L, "apple banana egg fig"),
    (5L, "date grape apple"))
  private val queries = Seq(("qA", "apple banana"), ("qB", "egg"))

  private def newStore(tag: String) =
    new TableStore(Files.createTempDirectory(s"graft_sidx_$tag").toString)

  test("indexed search equals the live operator, score for score") {
    val docs = corpus.toDF("doc_id", "text")
    val qs = queries.toDF("qid", "qtext")
    val store = newStore("eq")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    val live = TextOps.bm25Search(docs, "doc_id", "text",
        qs, "qid", "qtext", k = 3)
      .collect().map(_.toSeq).toSet
    val indexed = SearchIndex.search(spark, store, "docs",
        qs, "qid", "qtext", k = 3)
      .collect().map(_.toSeq).toSet
    assert(indexed == live, "persisted-index scores diverged from live")
  }

  test("indexed RM3 equals the live operator, row for row") {
    val docs = corpus.toDF("doc_id", "text")
    val qs = queries.toDF("qid", "qtext")
    val store = newStore("rm3")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    // small fb/exp params exercise both passes + the RM1 forward
    // lookup on this 5-doc corpus; every score must match bit for bit
    // (same lattice, same decimal sums — the operator's whole point)
    val live = TextOps.rm3Search(docs, "doc_id", "text",
        qs, "qid", "qtext", fbDocs = 2, fbTerms = 2, beta = 0.5, k = 4)
      .collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    val indexed = SearchIndex.rm3Search(spark, store, "docs",
        docs, "doc_id", "text",
        qs, "qid", "qtext", fbDocs = 2, fbTerms = 2, beta = 0.5, k = 4)
      .collect().map(_.toSeq).toSet
    assert(indexed == live, "persisted-index RM3 diverged from live")
    assert(live.nonEmpty)
    spark.catalog.clearCache()
  }

  test("each RM3 path leaves one pin: the expansion checkpoint it reads") {
    val docs = corpus.toDF("doc_id", "text")
    val qs = queries.toDF("qid", "qtext")
    val store = newStore("rm3pins")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    def checkPins(path: String)(run: => org.apache.spark.sql.DataFrame) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val res = run
      res.collect()
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      val read = res.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
      assert(added.size == 1 && added == read,
        s"$path RM3 left pins $added; its output reads checkpoints $read")
      added.foreach(spark.sparkContext.getPersistentRDDs(_).unpersist())
    }
    checkPins("live")(TextOps.rm3Search(docs, "doc_id", "text",
      qs, "qid", "qtext", fbDocs = 2, fbTerms = 2, beta = 0.5, k = 4))
    checkPins("indexed")(SearchIndex.rm3Search(spark, store, "docs",
      docs, "doc_id", "text",
      qs, "qid", "qtext", fbDocs = 2, fbTerms = 2, beta = 0.5, k = 4))
  }

  test("indexed RM3 pass-1 reads only the query terms' buckets") {
    val docs = corpus.toDF("doc_id", "text")
    val store = newStore("rm3prune")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    val oneTerm = Seq(("q", "egg")).toDF("qid", "qtext")
    val res = SearchIndex.rm3Search(spark, store, "docs",
      docs, "doc_id", "text", oneTerm, "qid", "qtext",
      fbDocs = 2, fbTerms = 2, k = 3)
    // pass 2's buckets cover the expanded vocabulary, so the overall
    // input set is exp-terms' buckets ∪ {bucket("egg")} — but it must
    // stay a strict subset of all 16, and never include the doclen
    // table (posting-local dl end to end)
    val files = res.inputFiles.toSeq
    val postingDirs = files.filter(_.contains("docs_postings"))
      .flatMap("bucket=([0-9]+)".r.findFirstMatchIn(_)).map(_.group(1))
      .toSet
    val allBuckets = spark.range(1).select(explode(array(
        corpus.flatMap(_._2.split(' ')).distinct.map(t =>
          pmod(xxhash64(lit(t)), lit(16L)).cast("string")): _*)))
      .collect().map(_.getString(0)).toSet
    assert(postingDirs.subsetOf(allBuckets))
    assert(!files.exists(_.contains("docs_doclen")),
      "RM3 search must never read the corpus-cardinality doclen table")
    spark.catalog.clearCache()
  }

  test("incremental addDocuments equals a full rebuild") {
    val old = corpus.filter(_._1 <= 3).toDF("doc_id", "text")
    val fresh = corpus.filter(_._1 > 3).toDF("doc_id", "text")
    val qs = queries.toDF("qid", "qtext")
    val inc = newStore("inc")
    SearchIndex.build(inc, "docs", old, "doc_id", "text", nBuckets = 16)
    SearchIndex.addDocuments(inc, "docs", fresh, "doc_id", "text")
    val full = newStore("full")
    SearchIndex.build(full, "docs", corpus.toDF("doc_id", "text"),
      "doc_id", "text", nBuckets = 16)
    val a = SearchIndex.search(spark, inc, "docs", qs, "qid", "qtext")
      .collect().map(_.toSeq).toSet
    val b = SearchIndex.search(spark, full, "docs", qs, "qid", "qtext")
      .collect().map(_.toSeq).toSet
    assert(a == b, "incrementally-merged index diverged from rebuild")
    // meta scalars advanced exactly
    val meta = inc.readMeta("docs_postings")
    assert(meta("n_docs").toLong == 5L)
  }

  test("search reads ONLY the query terms' posting buckets") {
    val docs = corpus.toDF("doc_id", "text")
    val store = newStore("prune")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    val oneTerm = Seq(("q", "egg")).toDF("qid", "qtext")
    val res = SearchIndex.search(spark, store, "docs",
      oneTerm, "qid", "qtext")
    val postingDirs = res.inputFiles.toSeq
      .filter(_.contains("docs_postings"))
      .flatMap("bucket=([0-9]+)".r.findFirstMatchIn(_)).map(_.group(1))
      .toSet
    val want = spark.range(1)
      .select(pmod(xxhash64(lit("egg")), lit(16L)).cast("string"))
      .head().getString(0)
    assert(postingDirs == Set(want),
      s"probe touched buckets $postingDirs, expected only $want")
  }

  test("search reads NO corpus-cardinality table (dl is posting-local)") {
    val docs = corpus.toDF("doc_id", "text")
    val store = newStore("nodl")
    SearchIndex.build(store, "docs", docs, "doc_id", "text", nBuckets = 16)
    val res = SearchIndex.search(spark, store, "docs",
      queries.toDF("qid", "qtext"), "qid", "qtext")
    val doclenFiles = res.inputFiles.toSeq.filter(_.contains("docs_doclen"))
    assert(doclenFiles.isEmpty,
      s"search plan scans the doclen table: $doclenFiles")
  }

  test("addDocuments rewrites ONLY the batch's doclen buckets") {
    val old = corpus.filter(_._1 <= 3).toDF("doc_id", "text")
    val fresh = corpus.filter(_._1 > 3).toDF("doc_id", "text")
    val store = newStore("dltouch")
    SearchIndex.build(store, "docs", old, "doc_id", "text", nBuckets = 16)
    SearchIndex.addDocuments(store, "docs", fresh, "doc_id", "text")
    // the refresh published doclen v=2; every bucket the batch did NOT
    // hash into must still be served from the v=1 files (carried by
    // reference in the manifest — the O(|batch|) refresh contract)
    val freshBuckets = fresh
      .select(pmod(xxhash64(col("doc_id")), lit(16L)).cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    val files = store
      .read(spark, "docs_doclen", SearchIndex.doclenSchema)
      .inputFiles.toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val bucket = "dbucket=([0-9]+)".r.findFirstMatchIn(f).get.group(1)
      val ver = "v=([0-9]+)".r.findFirstMatchIn(f).get.group(1)
      if (freshBuckets.contains(bucket))
        assert(ver == "2", s"touched bucket $bucket not rewritten: $f")
      else
        assert(ver == "1",
          s"cold doclen bucket $bucket was rewritten by the refresh: $f")
    }
    // and the doclen CONTENTS survive the bucketed layout exactly
    val dl = store.read(spark, "docs_doclen", SearchIndex.doclenSchema)
      .select("doc_id", "dl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dl == Map(1L -> 4L, 2L -> 4L, 3L -> 3L, 4L -> 4L, 5L -> 3L))
  }

  test("a pre-format-stamp index fails loudly instead of null-filling dl") {
    val docs = corpus.toDF("doc_id", "text")
    val qs = queries.toDF("qid", "qtext")
    // simulate a v1 (pre-dl) index: postings persisted WITHOUT the
    // format stamp in meta — exactly what an old build left behind
    // (written directly, never through SearchIndex.build, because
    // TableStore meta carries forward and the stamp would survive)
    val staging = newStore("oldfmt_src")
    SearchIndex.build(staging, "docs", docs, "doc_id", "text", nBuckets = 16)
    val store = newStore("oldfmt")
    val postings = staging
      .read(spark, "docs_postings", SearchIndex.postingsSchema)
      .drop("dl").withColumn("dl", lit(null).cast("long"))
      .select("term", "doc_id", "tf", "dl", "bucket")
    store.overwrite("docs_postings", postings,
      partitionBy = Seq("bucket"),
      meta = staging.readMeta("docs_postings") - "format")
    val e1 = intercept[IllegalStateException] {
      SearchIndex.search(spark, store, "docs", qs, "qid", "qtext", k = 3)
    }
    assert(e1.getMessage.contains("format stamp"))
    val e2 = intercept[IllegalStateException] {
      SearchIndex.addDocuments(store, "docs",
        Seq((9L, "apple")).toDF("doc_id", "text"), "doc_id", "text")
    }
    assert(e2.getMessage.contains("format stamp"))
  }

  test("funnel helpers release every cached stage frame they create") {
    // regression for the stageTimes persist leak (ADVICE r9): repeated
    // funnelCounts / conversionLatencyBands calls must not accumulate
    // user-cardinality cached frames
    val events = Seq(
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:01:00", "cart"),
      (1L, "2024-01-01 00:02:00", "buy"),
      (2L, "2024-01-01 00:00:30", "view"),
      (2L, "2024-01-01 00:03:00", "cart"))
      .toDF("user_id", "ts_s", "etype")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("etype"))
    val stages = Seq("view", "cart", "buy")
    val before = spark.sparkContext.getPersistentRDDs.size
    graft.ops.Funnel.funnelCounts(events, col("user_id"), col("ts"),
      col("etype"), stages).collect()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "funnelCounts leaked cached stage frames")
    val bands = graft.ops.Funnel.conversionLatencyBands(events,
      col("user_id"), col("ts"), col("etype"), stages, 60L * 1000000L)
    bands.collect()
    // the ONE documented caller-owned frame is the band result itself
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1,
      "conversionLatencyBands leaked stage frames beyond the band result")
    bands.unpersist()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }
}
