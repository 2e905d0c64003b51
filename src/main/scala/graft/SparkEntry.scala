package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.PosOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query over the driver testdata (TESTDATA.md), declared once in
  * [[registry]] together with its DuckDB-runnable ANSI-SQL oracle.
  *
  * Determinism conventions (oracle hash-compare):
  *  - every aggregate / computed column is aliased identically on both
  *    sides;
  *  - double aggregates are `round(x, 2)` — inputs carry 2 decimals, so
  *    sums sit on multiples of 0.01, far from the 0.005 rounding
  *    boundary;
  *  - top-k / window orderings always carry a unique tie-break key.
  */
object SparkEntry {

  // POS→testdata mapping (FIXTURES.md §B): sales → orders/lineitem,
  // customers → customer, products → part, streaming → events.
  // Tier thresholds scaled to o_totalprice sums (avg order ≈ 250k).
  private val BronzeBelow = 200000.0
  private val SilverBelow = 1000000.0
  private val GoldBelow   = 4000000.0

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_membership_level")(spark, "/root/testdata/sf0.001")

  private def t(name: String): (SparkSession, String) => DataFrame =
    Tables.loaders(name)

  /** Shared probe/build sides for the two as-of queries. The right side
    * is pre-aggregated to one row per (user, ts) so timestamp ties have
    * a defined winner (the asOfJoin determinism contract).
    */
  private def clicksAndPurchases(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = t("events")(s, d)
    val clicks = ev
      .filter(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
      .groupBy(col("user_id"), col("purchase_ts"))
      .agg(max(col("value")).as("purchase_value"))
    (clicks, purchases)
  }

  private val storeOrdersSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("o_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("o_totalprice",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("o_month",
      org.apache.spark.sql.types.StringType)))

  /** A value built at most once per (JVM, sf dir): every fixture and
    * induction result below is one. Builds are deterministic, so
    * memoization is observationally pure.
    */
  private final class Memo[A](build: (SparkSession, String) => A) {
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, A]()
    def apply(s: SparkSession, d: String): A =
      built.computeIfAbsent(d, _ => build(s, d))
    /** Build afresh and keep the result for later [[apply]] calls. */
    def refresh(s: SparkSession, d: String): A = {
      val a = build(s, d)
      built.put(d, a)
      a
    }
  }

  /** Every one-time on-disk fixture, in declaration order: each
    * [[fixture]] registers itself here for [[warmFixtures]].
    */
  private val fixtures =
    scala.collection.mutable.ArrayBuffer.empty[Memo[String]]

  /** A fixture: a memoized directory under the system tmpdir, named
    * `graft_<kind>_<hash of the sf dir>`, built by `write(s, d, dir)`
    * and put in place by [[publishFixture]], so no reader ever finds
    * it half-built. `ready(s, d, dir)` then runs on the final path:
    * session state a fixture needs, registered once per JVM whether
    * the directory was built now or reused.
    */
  private def fixture(
      kind: String,
      ready: (SparkSession, String, String) => Unit = (_, _, _) => ())(
      write: (SparkSession, String, String) => Unit): Memo[String] = {
    val m = new Memo[String]((s, d) => {
      val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_${kind}_${java.lang.Integer.toHexString(d.hashCode)}")
      publishFixture(dir, inputStamp(d))(stage => write(s, d, stage.toString))
      ready(s, d, dir.toString)
      dir.toString
    })
    fixtures += m
    m
  }

  /** Build a fixture directory in a staging sibling and rename it into
    * place in one atomic move: a reader, in this JVM or in another that
    * shares the tmpdir, finds no fixture or a complete one. A fixture
    * whose `_inputs` file holds `stamp` is reused; a stale one is moved
    * aside and dropped once the new one is built. When two JVMs build
    * from the same inputs at once, the first rename wins and the other
    * drops its stage: its rename onto the published directory fails
    * (ENOTEMPTY, a plain `FileSystemException`), and so does its move
    * of a stale fixture the winner already moved aside.
    */
  private[graft] def publishFixture(dir: java.nio.file.Path, stamp: String)(
      build: java.nio.file.Path => Unit): Unit = {
    import java.nio.file.{FileSystemException, Files, NoSuchFileException}
    import java.nio.file.StandardCopyOption.ATOMIC_MOVE
    import org.apache.commons.io.FileUtils.deleteQuietly
    val stampFile = dir.resolve("_inputs")
    def current =
      try Files.readString(stampFile) == stamp
      catch { case _: NoSuchFileException => false } // absent, or just moved aside
    if (!current) {
      val stage = Files.createTempDirectory(dir.getParent, s"${dir.getFileName}.stage-")
      try {
        build(stage)
        Files.writeString(stage.resolve("_inputs"), stamp)
        if (Files.exists(dir) && !current) {
          val stale = dir.resolveSibling(
            s"${dir.getFileName}.stale-${java.util.UUID.randomUUID}")
          try {
            Files.move(dir, stale, ATOMIC_MOVE)
            deleteQuietly(stale.toFile)
          } catch { case _: NoSuchFileException => } // moved aside by another JVM
        }
        try Files.move(stage, dir, ATOMIC_MOVE)
        catch { case _: FileSystemException if current => } // lost the race
      } finally deleteQuietly(stage.toFile)
    }
  }

  /** What a fixture is built from, hashed: the names, sizes and
    * modification times of the files under the sf dir (empty for one
    * that is not local) and under the engine's code source. A fixture
    * built from other data, or by other writer code (another build of
    * the engine), is rebuilt.
    */
  private[graft] def inputStamp(d: String): String =
    listingHash(java.nio.file.Paths.get(d)) + codeStamp

  private lazy val codeStamp = listingHash(java.nio.file.Paths.get(
    getClass.getProtectionDomain.getCodeSource.getLocation.toURI))

  /** A hash of the names, sizes and modification times of the files
    * under `root` (a directory or one file), symbolic links followed.
    */
  private def listingHash(root: java.nio.file.Path): String = {
    import java.nio.file.{FileVisitOption, Files}
    import scala.jdk.CollectionConverters._
    if (!Files.exists(root)) ""
    else {
      val real = root.toRealPath()
      val walk = Files.walk(real, FileVisitOption.FOLLOW_LINKS)
      val listing =
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          s"${real.relativize(p)} ${Files.size(p)} ${Files.getLastModifiedTime(p).toMillis}"
        }.toSeq.sorted.mkString("\n")
        finally walk.close()
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  /** Build every registered fixture for an sf dir — harnesses call this
    * untimed so first-invocation fixture construction is never billed
    * to a query.
    */
  def warmFixtures(s: SparkSession, d: String): Unit =
    fixtures.foreach(_(s, d))

  /** Learned BPE merges: q_bpe_vocab learns them on every call and
    * q_doc_bpe_apply reads the latest ones.
    */
  private val bpeMerges = new Memo[Seq[(String, String)]]((s, d) =>
    graft.text.Bpe.learnBpe(t("documents")(s, d), col("text"),
      numMerges = 64, maxWordTypes = 20000))

  /** Quality-classifier weights: q_quality_model trains them on every
    * call (deterministic — exact decimal gradient sums), and
    * q_quality_scores / q_calibration read the latest ones, as a
    * production scorer loads persisted weights rather than retraining.
    * Weak label: long-form (≥ 60 tokens) — the rule-gate-to-smooth-
    * score bootstrap of real quality filters; the driver corpus carries
    * no lang-specific text signal, so a length-composite is the honest
    * learnable target.
    */
  private val qualityWeights = new Memo[Array[Double]]((s, d) =>
    graft.text.QualityModel.train(
      t("documents")(s, d),
      graft.text.QualityModel.features(col("text")),
      (graft.text.TextOps.tokenCount(col("text")) >= 60).cast("double"),
      // 15×0.8 converges the same as 25×0.5 on standardized features
      // at ~60% of the job-scheduling overhead (each iteration is a
      // scheduled Spark job; on tiny bench data that fixed cost IS
      // the wall time — at scale the per-pass scan amortizes it)
      iters = 15, lr = 0.8))

  /** CSV fixture for the S1/S8 scan queries: the `nation` table
    * exported as headered multi-part CSV. Reads `<dir>/nation`.
    */
  private val csvFixture = fixture("csv") { (s, d, dir) =>
    Tables.nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .repartition(2) // ≥2 part files ⇒ the read is a real union scan
      .write.mode("overwrite").option("header", "true")
      .csv(s"$dir/nation")
  }

  /** JSON-lines twin of the documents table — the interchange-format
    * fixture for q_jsonl_roundtrip.
    */
  private val jsonlFixture = fixture("jsonl") { (s, d, dir) =>
    t("documents")(s, d).write.mode("overwrite").json(dir)
  }

  /** gzip-compressed JSONL twin — real corpora ship compressed
    * (.jsonl.gz / .jsonl.zst; the same `compression` option takes
    * "zstd"). gzip is NOT splittable: each shard decompresses as one
    * read task, so at 100 TB the write-side partition count (file
    * count) IS the read parallelism — the writer controls shard size,
    * keep shards ~100-500 MB compressed. Fixture for
    * q_jsonl_gz_roundtrip.
    */
  private val jsonlGzFixture = fixture("jsonl_gz") { (s, d, dir) =>
    t("documents")(s, d).write.mode("overwrite")
      .option("compression", "gzip").json(dir)
  }

  /** Z-ordered rewrite of the orders table over
    * (o_custkey, o_totalprice) — fixture for q_zorder_roundtrip
    * (ZOrderSpec proves the skipping; the query proves content
    * preservation against the original table).
    */
  private val zorderFixture = fixture("zorder") { (s, d, dir) =>
    graft.ops.Layout.writeZOrdered(
      t("orders")(s, d), dir, Seq("o_custkey", "o_totalprice"),
      bits = 6, numFiles = 8)
  }

  /** ORC twin of the documents table (the other columnar interchange
    * format Spark ships a native reader for) — fixture for
    * q_orc_roundtrip.
    */
  private val orcFixture = fixture("orc") { (s, d, dir) =>
    t("documents")(s, d).write.mode("overwrite").orc(dir)
  }

  /** Store fixture for q_store_roundtrip: orders written into a
    * month-partitioned TableStore snapshot, then the EARLIEST month
    * rewritten incrementally (prices ×1.1) via `overwritePartitions` —
    * so the read under test assembles a manifest spanning two
    * versions, exactly the incremental-ingest machinery.
    */
  private val storeFixture = fixture("store") { (s, d, root) =>
    val store = new graft.streaming.TableStore(root)
    val o = t("orders")(s, d).select(
      col("o_orderkey"), col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
    store.overwrite("orders", o, partitionBy = Seq("o_month"))
    val month = o.agg(min(col("o_month"))).head().getString(0)
    val updated = store
      .read(s, "orders", storeOrdersSchema, Some(Seq(month)))
      .withColumn("o_totalprice",
        round(col("o_totalprice").cast("decimal(18,2)") *
          lit(BigDecimal("1.1")), 2).cast("double"))
    store.overwritePartitions("orders", updated, "o_month", Seq(month))
  }

  /** AggMaintain state parquet for lineitem keyed by l_returnflag over
    * l_quantity, registered with the MvRewrite rule — the
    * maintained-MV fixture behind q_mv_rewrite. Built through
    * partial/merge over three disjoint batches (not one groupBy) so
    * the state the rewrite serves is the genuinely
    * incrementally-maintained artifact. The rewrite is registered on
    * the final path, so the plan reads the published state.
    */
  private val mvFixture = fixture("mv",
    ready = (s, d, root) => graft.plans.MvRewrite.register(s,
      s"$d/lineitem.parquet", Seq("l_returnflag"), "l_quantity", root,
      // l_quantity is a double holding whole units — 2-dp exact
      acceptTwoDecimalRounding = true)) { (s, d, root) =>
    import graft.ops.AggMaintain
    val li = t("lineitem")(s, d).select("l_orderkey", "l_returnflag",
      "l_quantity")
    val state = (0 to 2).map(i => AggMaintain.partial(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i),
        Seq("l_returnflag"), "l_quantity"))
      .reduce((a, b) => AggMaintain.merge(a, b, Seq("l_returnflag")))
    state.coalesce(1).write.mode("overwrite").parquet(root)
  }

  /** Persisted inverted-index fixture for q_bm25_search_indexed,
    * deliberately through BOTH write paths — build() over ~90% of the
    * corpus, then addDocuments() with the rest — so the oracle
    * hash-match certifies the incremental merge, not just the bulk
    * build.
    */
  private val searchIndexFixture = fixture("searchidx") { (s, d, root) =>
    val store = new graft.streaming.TableStore(root)
    val docs = t("documents")(s, d)
    graft.text.SearchIndex.build(store, "docs",
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 9),
      "doc_id", "text")
    graft.text.SearchIndex.addDocuments(store, "docs",
      docs.filter(pmod(col("doc_id"), lit(10)) === 9),
      "doc_id", "text")
  }


  /** Hybrid retrieval (shared by q_hybrid_search and q_mmr_rerank):
    * lexical BM25 top-20 and dense cosine top-20 per query, fused by
    * Reciprocal Rank Fusion on exact-decimal contributions — ranks,
    * not raw scores, fuse, so the two systems' incommensurable score
    * spaces never meet. Query embeddings are vectors 0/1/2 of the
    * aligned embeddings table.
    */
  private def hybridSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      ("q1", "hash join batch", 0L),
      ("q2", "window sort column", 1L),
      ("q3", "customer order data stream", 2L))
      .toDF("qid", "qtext", "qvec")
    val lex = graft.text.TextOps.bm25Search(
      t("documents")(s, d), "doc_id", "text",
      queries.select("qid", "qtext"), "qid", "qtext", k = 20)
    val emb = t("embeddings")(s, d)
    val dense = graft.similarity.Knn.bruteForceKnn(
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")), 20)
      .join(broadcast(queries.select(col("qvec").as("query_id"),
        col("qid"))), Seq("query_id"))
    graft.ops.Fusion.reciprocalRankFusion(
        Seq(
          lex.select(col("qid"), col("doc_id").as("id"), col("rank")),
          dense.select(col("qid"), col("vec_id").as("id"),
            col("rank"))),
        "qid", "id", "rank", rrfK = 60, topK = 10)
      .select(col("qid"), col("rank"), col("id").as("doc_id"),
        col("rrf_score"), col("n_systems"))
  }

  /** Shared reduced series for q_acf / q_cusum: total order revenue
    * (integer cents) per calendar day — the distributed aggregate that
    * bounds the later sequential pass by the calendar.
    */
  private def dailyOrderCents(s: SparkSession, d: String): DataFrame =
    t("orders")(s, d)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("cents"))

  /** The bigram-LM scoring oracle (shared verbatim by q_lm_score
    * and the q_lm_buckets curriculum histogram built on it).
    */
  private val lmScoreSql: String =
    """WITH toks AS (
           SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS arr
           FROM documents),
         uni AS (
           SELECT w, count(*) AS c_uni
           FROM (SELECT unnest(arr) AS w FROM toks) GROUP BY w),
         v AS (SELECT count(*) AS v FROM uni),
         bigr AS (
           SELECT doc_id, arr[pos+1] || ' ' || arr[pos+2] AS b,
             arr[pos+1] AS prefix
           FROM (SELECT doc_id, arr, unnest(range(len(arr) - 1)) AS pos
                 FROM toks WHERE len(arr) >= 2)),
         bc AS (SELECT b, count(*) AS c_bi FROM bigr GROUP BY b),
         terms AS (
           SELECT g.doc_id,
             CAST(round(ln(
               (COALESCE(bc.c_bi, 0) + CAST(0.5 AS DOUBLE)) /
               (COALESCE(u.c_uni, 0) +
                 (CAST(0.5 AS DOUBLE) * CAST(v.v AS DOUBLE)))), 9)
               AS DECIMAL(28,12)) AS lp
           FROM bigr g
           LEFT JOIN bc ON g.b = bc.b
           LEFT JOIN uni u ON g.prefix = u.w
           CROSS JOIN v),
         per_doc AS (
           SELECT doc_id, sum(lp) AS logp_sum, count(*) AS n_bigrams
           FROM terms GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           -- emitted as a 9-dp-rounded DOUBLE on both sides: a raw
           -- DECIMAL output column renders decimal.Decimal vs float64
           -- under the harness's two parquet readers (the r8 red class)
           round(CAST(COALESCE(p.logp_sum, CAST(0 AS DECIMAL(38,12)))
             AS DOUBLE), 9) AS logp_sum,
           -- 9-dp HALF_UP mean in exact LONG arithmetic (the sum is a
           -- 9-dp lattice value, so S9 = sum*1e9 is an exact integer;
           -- k = (2|S9|+n)//(2n) is integer HALF_UP of |S9|/n; one
           -- correctly-rounded double division at the end). float
           -- round(x,9) would coin-flip on the exact half-boundaries
           -- this quotient family produces.
           CASE WHEN p.n_bigrams > 0 THEN
             (CASE WHEN p.logp_sum < 0 THEN -1 ELSE 1 END) *
             CAST((2 * abs(CAST(CAST(p.logp_sum AS DECIMAL(26,12)) *
                 CAST(1000000000 AS DECIMAL(10,0)) AS BIGINT)) +
                 p.n_bigrams) // (2 * p.n_bigrams) AS DOUBLE)
               / 1000000000.0
             END AS lm_score
         FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"""

  /** Shared CTE chain replaying [[graft.functions.Winnow]] in DuckDB:
    * per-byte codepoints (the corpus is ASCII) → k=25 gram hashes via
    * a HUGEINT mod-2^64 list_reduce fold of the B=1000000007
    * polynomial → signed-BIGINT re-interpretation → w=50 sliding
    * minima (`ms` per doc). Edge cases mirror the expression: empty
    * text → [0], ≤k bytes → one whole-string gram, ≤w grams → the
    * global min.
    */
  private val winnowMinsCte: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         bytes AS (
           SELECT doc_id, n,
             list_transform(range(n),
               i -> ord(substr(text, CAST(i+1 AS INTEGER), 1))::HUGEINT)
               AS bs
           FROM d),
         grams AS (
           SELECT doc_id,
             CASE WHEN n = 0 THEN [0::HUGEINT]
                  WHEN n <= 25 THEN [list_reduce(bs, (h, b) ->
                    (h*1000000007 + b) % 18446744073709551616::HUGEINT)]
                  ELSE list_transform(range(n - 25 + 1),
                    p -> list_reduce(
                      bs[CAST(p+1 AS INTEGER):CAST(p+25 AS INTEGER)],
                      (h, b) -> (h*1000000007 + b)
                        % 18446744073709551616::HUGEINT))
             END AS hs
           FROM bytes),
         signed AS (
           SELECT doc_id,
             list_transform(hs, h -> CAST(
               CASE WHEN h >= 9223372036854775808::HUGEINT
                 THEN h - 18446744073709551616::HUGEINT
                 ELSE h END AS BIGINT)) AS sh,
             len(hs) AS m
           FROM grams),
         mins AS (
           SELECT doc_id,
             CASE WHEN m <= 50 THEN [list_min(sh)]
                  ELSE list_transform(range(m - 50 + 1),
                    p -> list_min(
                      sh[CAST(p+1 AS INTEGER):CAST(p+50 AS INTEGER)]))
             END AS ms
           FROM signed)"""

  /** The q_rank_eval oracle: the q_bm25_search CTE chain re-ranked at
    * top-10 (no k=5 cut), all-terms-containment qrels, and the metric
    * arithmetic over [[graft.ops.RankEval.dcgUnits]]' exact integer
    * micro-units — every sum integer, every division one double op.
    */
  private def rankEvalSql(bm25: String): String = {
    val cut = bm25.indexOf("-- ranking stays")
    require(cut > 0, "q_bm25_search oracle shape changed")
    val ctes = bm25.substring(0, cut).trim.stripSuffix(",")
    val k = 10
    val units = graft.ops.RankEval.dcgUnitsSqlValues(k)
    val cumVals = graft.ops.RankEval.dcgUnits(k).scanLeft(0L)(_ + _).tail
      .zipWithIndex.map { case (c, i) => s"(${i + 1}, ${c}::BIGINT)" }
      .mkString(", ")
    s"""$ctes,
         rk AS (SELECT qid, doc_id, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER)
             AS rank FROM sc),
         dt2 AS (SELECT DISTINCT doc_id, term FROM toks),
         nt AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY 1),
         qrels AS (
           SELECT qt.qid, dt2.doc_id
           FROM qt JOIN dt2 ON qt.term = dt2.term
           JOIN nt ON nt.qid = qt.qid
           GROUP BY qt.qid, dt2.doc_id, nt.n_terms
           HAVING count(*) = nt.n_terms),
         u(rank, uu) AS (VALUES $units),
         cm(n, cum) AS (VALUES $cumVals),
         flg AS (
           SELECT rk.qid, rk.rank,
             CASE WHEN qr.doc_id IS NOT NULL THEN 1 END AS rel
           FROM rk LEFT JOIN qrels qr
             ON qr.qid = rk.qid AND qr.doc_id = rk.doc_id
           WHERE rk.rank <= $k),
         pq AS (
           SELECT flg.qid,
             CAST(sum(CASE WHEN rel = 1 THEN u.uu ELSE 0 END) AS BIGINT)
               AS dcg_units,
             count(CASE WHEN rel = 1 THEN 1 END) AS hits,
             min(CASE WHEN rel = 1 THEN flg.rank END) AS frr
           FROM flg JOIN u ON u.rank = flg.rank GROUP BY 1),
         nr AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY 1)
         SELECT pq.qid, coalesce(nr.n_rel, 0) AS n_rel, pq.hits,
           CAST(coalesce(pq.frr, 0) AS INTEGER) AS first_rel_rank,
           round(coalesce(CAST(pq.dcg_units AS DOUBLE)
             / CAST(cm.cum AS DOUBLE), 0.0), 6) AS ndcg,
           round(coalesce(1.0 / pq.frr, 0.0), 6) AS mrr,
           round(CAST(pq.hits AS DOUBLE) / $k.0, 6) AS "precision",
           round(coalesce(CAST(pq.hits AS DOUBLE)
             / CAST(nr.n_rel AS DOUBLE), 0.0), 6) AS recall
         FROM pq LEFT JOIN nr ON nr.qid = pq.qid
         LEFT JOIN cm ON cm.n = least($k, nr.n_rel)"""
  }

  /** The q_hybrid_search oracle: both input rankings replayed
    * verbatim (the q_bm25_search chain at top-20; the
    * q_knn_bruteforce cosine chain over query vectors 0/1/2), then
    * RRF on exact 9-dp-lattice decimal contributions. Shared with
    * OracleMmr, which embeds it as the candidate source.
    */
  private val hybridSearchSql: String =
    """WITH q(qid, qtext) AS (VALUES
           ('q1', 'hash join batch'),
           ('q2', 'window sort column'),
           ('q3', 'customer order data stream')),
         qt AS (SELECT DISTINCT qid, term FROM (
           SELECT qid,
             unnest(regexp_extract_all(lower(qtext), '\S+')) AS term
           FROM q)),
         toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         tfq AS (SELECT * FROM tf
           WHERE term IN (SELECT term FROM qt)),
         df AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs,
                   avg(coalesce(dl.dl, 0)) AS avgdl
                 FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
         w AS (SELECT tfq.doc_id, tfq.term,
           CAST(round(
             ln((tot.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tfq.tf * 2.2
                / (tfq.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl))),
             6) AS DECIMAL(18,6)) AS wgt
           FROM tfq
           JOIN dl ON dl.doc_id = tfq.doc_id
           JOIN df ON df.term = tfq.term
           CROSS JOIN tot),
         sc AS (SELECT qt.qid, w.doc_id,
             CAST(sum(w.wgt) AS DECIMAL(18,6)) AS score
           FROM w JOIN qt ON qt.term = w.term GROUP BY 1, 2),
         lex AS (SELECT qid, doc_id, rank FROM (
           SELECT qid, doc_id,
             row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
           FROM sc)
           WHERE rank <= 20),
         e0 AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         e AS (SELECT vec_id, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         dq AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id < 3),
         dscored AS (
           SELECT dq.query_id, e.vec_id,
             round(
               list_reduce(list_transform(list_zip(dq.qv, e.v),
                 p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(dq.qv, x -> x * x),
                    (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(e.v, x -> x * x),
                    (acc, x) -> acc + x))), 4) AS score
           FROM e, dq WHERE e.vec_id <> dq.query_id),
         den AS (SELECT
             CASE query_id WHEN 0 THEN 'q1' WHEN 1 THEN 'q2'
               ELSE 'q3' END AS qid,
             vec_id AS doc_id, rank
           FROM (
             SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id) AS rank
             FROM dscored)
           WHERE rank <= 20),
         contrib AS (SELECT qid, doc_id,
             CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(18,9)) AS c
           FROM (SELECT * FROM lex UNION ALL SELECT * FROM den)),
         fused AS (SELECT qid, doc_id,
             CAST(sum(c) AS DECIMAL(18,9)) AS s,
             count(*) AS n_systems
           FROM contrib GROUP BY 1, 2)
         SELECT qid, rank, doc_id,
           round(CAST(s AS DOUBLE), 9) AS rrf_score, n_systems
         FROM (
           SELECT qid, doc_id, s, n_systems,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY s DESC, doc_id) AS INTEGER)
               AS rank
           FROM fused)
         WHERE rank <= 10"""

  /** The q_bm25_search oracle: the same per-(doc,term) weight formula
    * as q_doc_bm25, then exact-decimal score sums and a deterministic
    * (score desc, doc_id) row_number — no FP sum-order dependence
    * anywhere. Also q_bm25_search_indexed's, VERBATIM: hash equality
    * under one oracle is the persisted-index losslessness proof
    * (layout, stats meta, and the incremental merge all certified by
    * the same compare). q_rank_eval re-ranks its CTE chain.
    */
  private val bm25SearchSql: String =
    """WITH q(qid, qtext) AS (VALUES
           ('q1', 'hash join batch'),
           ('q2', 'window sort column'),
           ('q3', 'customer order data stream')),
         qt AS (SELECT DISTINCT qid, term FROM (
           SELECT qid,
             unnest(regexp_extract_all(lower(qtext), '\S+')) AS term
           FROM q)),
         toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         tfq AS (SELECT * FROM tf
           WHERE term IN (SELECT term FROM qt)),
         df AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs,
                   avg(coalesce(dl.dl, 0)) AS avgdl
                 FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
         w AS (SELECT tfq.doc_id, tfq.term,
           CAST(round(
             ln((tot.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tfq.tf * 2.2
                / (tfq.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl))),
             6) AS DECIMAL(18,6)) AS wgt
           FROM tfq
           JOIN dl ON dl.doc_id = tfq.doc_id
           JOIN df ON df.term = tfq.term
           CROSS JOIN tot),
         sc AS (SELECT qt.qid, w.doc_id,
             CAST(sum(w.wgt) AS DECIMAL(18,6)) AS score
           FROM w JOIN qt ON qt.term = w.term GROUP BY 1, 2)
         -- ranking stays on the exact DECIMAL; the EMITTED score is
         -- the 6-dp-rounded DOUBLE on both sides (raw DECIMAL output
         -- renders decimal.Decimal vs float64 across the harness's
         -- two parquet readers — the r8 red class)
         SELECT qid, rank, doc_id,
           round(CAST(score AS DOUBLE), 6) AS score
         FROM (
           SELECT qid, doc_id, score,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank
           FROM sc)
         WHERE rank <= 5"""

  /** The q_ngram_jaccard_pairs oracle — also q_ngram_jaccard_prefix's:
    * the PPJoin prefix form must emit EXACTLY the all-pairs result (one
    * oracle, two plans).
    */
  private val ngramJaccardPairsSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g)
         SELECT p.doc_a, p.doc_b,
           round(CAST(p.common AS DOUBLE)
             / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE), 6) AS jaccard
         FROM p
         JOIN sz la ON la.doc_id = p.doc_a
         JOIN sz lb ON lb.doc_id = p.doc_b
         WHERE CAST(p.common AS DOUBLE)
             / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8"""

  /** The q_ngram_containment oracle: the q_ngram_jaccard_pairs gram
    * construction with the asymmetric denominator |∩| / min(|A|, |B|).
    * Also q_ngram_containment_prefix's (same contract as the Jaccard
    * pair).
    */
  private val ngramContainmentSql: String =
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g)
         SELECT p.doc_a, p.doc_b,
           round(CAST(p.common AS DOUBLE)
             / CAST(least(la.n_sh, lb.n_sh) AS DOUBLE), 6) AS containment
         FROM p
         JOIN sz la ON la.doc_id = p.doc_a
         JOIN sz lb ON lb.doc_id = p.doc_b
         WHERE CAST(p.common AS DOUBLE)
             / CAST(least(la.n_sh, lb.n_sh) AS DOUBLE) >= 0.8"""

  /** One declared query: its name, the ANSI SQL that DuckDB runs on
    * the same parquet tables as its oracle, and the frame it builds for
    * an sf dir.
    */
  final case class QueryDef(name: String, oracle: String)(
      val build: (SparkSession, String) => DataFrame)

  /** The registry: one entry per implemented operator from SURVEY.md
    * §2, each declared once with its oracle (conventions in the object
    * doc). Declared after every `val` an oracle reads: object members
    * initialize in text order.
    */
  val registry: Seq[QueryDef] = Seq(
    // ---- §2.5 A1/A2 aggregation + §2.2 expressions: pricing summary ----
    QueryDef("q1_lineitem_agg",
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus""") { (s, d) =>
      t("lineitem")(s, d)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          count(lit(1)).as("count_order"))
    },

    // ---- membership tiering (A1+P5+J2+P6), SURVEY §7.2 flagship ----
    QueryDef("q_membership_level",
      s"""SELECT c.c_custkey, c.c_name,
          CASE WHEN s.sum_purchase IS NULL THEN 'Bronze'
               WHEN s.sum_purchase < $BronzeBelow THEN 'Bronze'
               WHEN s.sum_purchase < $SilverBelow THEN 'Silver'
               WHEN s.sum_purchase < $GoldBelow THEN 'Gold'
               ELSE 'Platinum' END AS membership_level,
          round(coalesce(s.sum_purchase, 0), 2) AS sum_purchase
          FROM customer c
          LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS sum_purchase
                     FROM orders GROUP BY o_custkey) s
            ON c.c_custkey = s.o_custkey""") { (s, d) =>
      PosOps.membershipLevel(
        t("customer")(s, d), t("orders")(s, d).withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey", col("o_totalprice"),
        BronzeBelow, SilverBelow, GoldBelow)
        .select("c_custkey", "c_name", "membership_level", "sum_purchase")
    },

    // ---- purchase frequency (A2+J2+P6) ----
    QueryDef("q_purchase_frequency",
      """SELECT c.c_custkey, c.c_name,
         coalesce(f.purchase_frequency, 0) AS purchase_frequency
         FROM customer c
         LEFT JOIN (SELECT o_custkey, count(o_orderkey) AS purchase_frequency
                    FROM orders GROUP BY o_custkey) f
           ON c.c_custkey = f.o_custkey""") { (s, d) =>
      PosOps.purchaseFrequency(
        t("customer")(s, d), t("orders")(s, d).withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey", "o_orderkey")
        .select("c_custkey", "c_name", "purchase_frequency")
    },

    // ---- fused enrichment (single-pass sum+count, SURVEY §4) ----
    QueryDef("q_customer_enrich",
      s"""SELECT c.c_custkey,
          CASE WHEN s.sum_purchase IS NULL THEN 'Bronze'
               WHEN s.sum_purchase < $BronzeBelow THEN 'Bronze'
               WHEN s.sum_purchase < $SilverBelow THEN 'Silver'
               WHEN s.sum_purchase < $GoldBelow THEN 'Gold'
               ELSE 'Platinum' END AS membership_level,
          round(coalesce(s.sum_purchase, 0), 2) AS sum_purchase,
          coalesce(s.purchase_frequency, 0) AS purchase_frequency
          FROM customer c
          LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS sum_purchase,
                            count(o_orderkey) AS purchase_frequency
                     FROM orders GROUP BY o_custkey) s
            ON c.c_custkey = s.o_custkey""") { (s, d) =>
      PosOps.enrichCustomers(
        t("customer")(s, d), t("orders")(s, d).withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey", col("o_totalprice"), "o_orderkey",
        BronzeBelow, SilverBelow, GoldBelow)
        .select("c_custkey", "membership_level", "sum_purchase", "purchase_frequency")
    },

    // ---- J1 left-anti delete detection ----
    QueryDef("q_sync_delete_antijoin",
      """SELECT c_custkey, c_name, c_nationkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""") { (s, d) =>
      PosOps.deleteSet(
        t("customer")(s, d),
        t("orders")(s, d).select(col("o_custkey").as("c_custkey")),
        "c_custkey")
        .select("c_custkey", "c_name", "c_nationkey")
    },

    // ---- D2 keyed existence (semi-join) ----
    QueryDef("q_exists_semijoin",
      """SELECT p_partkey, p_name, p_brand FROM part p
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""") { (s, d) =>
      PosOps.existing(
        t("part")(s, d),
        t("lineitem")(s, d).select(col("l_partkey").as("p_partkey")),
        "p_partkey")
        .select("p_partkey", "p_name", "p_brand")
    },

    // ---- D1 full-row distinct ----
    QueryDef("q_dedup_exact",
      "SELECT DISTINCT l_suppkey, l_returnflag, l_linestatus FROM lineitem") { (s, d) =>
      t("lineitem")(s, d)
        .select("l_suppkey", "l_returnflag", "l_linestatus")
        .dropDuplicates()
    },

    // ---- O3 top-k (TakeOrderedAndProject, tie-break on key) ----
    QueryDef("q_top5_sales",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5""") { (s, d) =>
      PosOps.topK(
        t("orders")(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        5, col("o_totalprice").desc, col("o_orderkey").asc)
    },

    // ---- D3 union all ----
    QueryDef("q_union_all",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_totalprice > 450000.0""") { (s, d) =>
      val o = t("orders")(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
      o.filter(col("o_orderstatus") === "F")
        .unionByName(o.filter(col("o_totalprice") > 450000.0))
    },

    // ---- P10 category routing by leading digit ----
    QueryDef("q_category_routing",
      """SELECT p_partkey,
         CASE substr(CAST(p_partkey AS VARCHAR), 1, 1)
           WHEN '1' THEN 'Daily' WHEN '2' THEN 'Meat'
           WHEN '3' THEN 'Seafood' WHEN '4' THEN 'Vegetable & Fruit'
           WHEN '5' THEN 'Snack' WHEN '6' THEN 'Beverage'
           WHEN '7' THEN 'Alcohol' ELSE 'Other' END AS product_category
         FROM part""") { (s, d) =>
      t("part")(s, d)
        .select(
          col("p_partkey"),
          PosOps.routeCategory(col("p_partkey")).as("product_category"))
    },

    // ---- P2/P3/P4/P11 derived scalar expressions ----
    QueryDef("q_derived_columns",
      """SELECT l_orderkey, l_linenumber,
         CAST(round(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_price,
         CAST(l_quantity AS BIGINT) AS qty_int,
         strftime(l_shipdate, '%Y%m%d') AS ship_yyyymmdd
         FROM lineitem""") { (s, d) =>
      t("lineitem")(s, d).select(
        col("l_orderkey"),
        col("l_linenumber"),
        // exact decimal arithmetic: double×double rounds differently
        // across engines when the product lands on a .005 boundary
        round(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")), 2)
          .cast("double").as("net_price"),
        col("l_quantity").cast("long").as("qty_int"),
        date_format(col("l_shipdate"), "yyyyMMdd").as("ship_yyyymmdd"))
    },

    // ---- P8/P9 predicate filter + null handling ----
    QueryDef("q_filter_dropna",
      """SELECT event_id, user_id, value FROM events
         WHERE user_id IS NOT NULL AND value IS NOT NULL
           AND event_type = 'purchase' AND value > 50.0""") { (s, d) =>
      t("events")(s, d)
        .na.drop(Seq("user_id", "value"))
        .filter(col("event_type") === "purchase" && col("value") > 50.0)
        .select("event_id", "user_id", "value")
    },

    // ---- S10 point lookup ----
    QueryDef("q_point_lookup",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderkey = 42""") { (s, d) =>
      t("orders")(s, d).filter(col("o_orderkey") === 42L)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    // ---- A5 stock decrement (join-agg) ----
    QueryDef("q_stock_decrement",
      """SELECT p.p_partkey,
         round(coalesce(s.qty_sold, 0), 2) AS qty_sold,
         round(CAST(p.p_size AS DOUBLE) * 100 - coalesce(s.qty_sold, 0), 2) AS stock_after
         FROM part p
         LEFT JOIN (SELECT l_partkey, sum(l_quantity) AS qty_sold
                    FROM lineitem GROUP BY l_partkey) s
           ON p.p_partkey = s.l_partkey""") { (s, d) =>
      PosOps.stockDecrement(
        t("part")(s, d),
        t("lineitem")(s, d).select(col("l_partkey").as("p_partkey"), col("l_quantity")),
        "p_partkey", col("l_quantity"), col("p_size").cast("double") * 100d)
        .select(
          col("p_partkey"),
          round(col("qty_sold"), 2).as("qty_sold"),
          round(col("stock_after"), 2).as("stock_after"))
    },

    // ---- M2/M3 upsert semantics as a relational transform ----
    QueryDef("q_upsert",
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_totalprice FROM orders
           WHERE o_orderkey % 3 <> 0),
         updates AS (
           SELECT o_orderkey, o_custkey, round(o_totalprice * 2, 2) AS o_totalprice
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT * FROM updates
         UNION ALL
         SELECT b.* FROM base b
         WHERE NOT EXISTS (SELECT 1 FROM updates u
                           WHERE u.o_orderkey = b.o_orderkey)""") { (s, d) =>
      val orders = t("orders")(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val base = orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val updates = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
      PosOps.upsert(base, updates, "o_orderkey")
    },

    // ---- EP1 daily clean-load (dropna + dedup + derive) ----
    QueryDef("q_daily_load",
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice * l_quantity, 2) AS gross,
         l_returnflag
         FROM (SELECT DISTINCT * FROM lineitem
               WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
                 AND l_suppkey IS NOT NULL AND l_linenumber IS NOT NULL
                 AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                 AND l_discount IS NOT NULL AND l_tax IS NOT NULL
                 AND l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
                 AND l_shipdate IS NOT NULL)""") { (s, d) =>
      PosOps.cleanLoad(t("lineitem")(s, d))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * col("l_quantity"), 2).as("gross"),
          col("l_returnflag"))
    },

    // ---- width-aware clean-load: output-equal to cleanLoad, but
    //      unique rows pass map-side (broadcast anti-join of the
    //      duplicated-fingerprint set) and only true duplicates
    //      shuffle — the full-corpus-over-the-wire cost of
    //      dropDuplicates() on wide document rows never happens ----
    QueryDef("q_clean_load_wide",
      """SELECT DISTINCT text, lang, source, n_chars FROM documents
         WHERE text IS NOT NULL AND lang IS NOT NULL
           AND source IS NOT NULL AND n_chars IS NOT NULL""") { (s, d) =>
      PosOps.cleanLoadWide(
        t("documents")(s, d).select("text", "lang", "source", "n_chars"))
    },

    // ---- O1 keyed sort (deterministic subset) ----
    QueryDef("q_order_sort",
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > 490000.0 ORDER BY o_orderkey""") { (s, d) =>
      t("orders")(s, d)
        .filter(col("o_totalprice") > 490000.0)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey"))
    },

    // ---- deep multi-way join (TPC-H Q5 shape): region → nation →
    //      customer → orders → lineitem → supplier with the local-
    //      supplier condition; dimensions broadcast, facts shuffle
    //      once on their join keys. Per-row decimal rounding keeps the
    //      revenue sum bit-stable across engines ----
    QueryDef("q5_local_supplier_volume",
      """SELECT n_name,
         CAST(round(sum(round(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)), 2) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""") { (s, d) =>
      val rev = round(
        col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")),
        2)
      t("region")(s, d).filter(col("r_name") === "ASIA")
        .join(t("nation")(s, d), col("n_regionkey") === col("r_regionkey"))
        .join(t("customer")(s, d), col("c_nationkey") === col("n_nationkey"))
        .join(t("orders")(s, d), col("o_custkey") === col("c_custkey"))
        .join(t("lineitem")(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(t("supplier")(s, d),
          col("s_suppkey") === col("l_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(rev), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ---- window functions (§2.8 extension): rank within customer ----
    QueryDef("q_window_rank",
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3""") { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t("orders")(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    },

    // ---- streaming-as-batch: hourly tumbling-window aggregation ----
    QueryDef("q_events_hourly",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""") { (s, d) =>
      t("events")(s, d)
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    },

    // ---- session windows (streaming construct, batch-checkable):
    //      events merge while gaps stay under 30 min; the oracle is the
    //      classic gaps-and-islands SQL ----
    // session start = min ts of each island; islands break where the
    // gap to the previous event reaches 30 min (Spark merges windows
    // that OVERLAP, i.e. gap strictly under the duration)
    QueryDef("q_events_sessions",
      """WITH e AS (SELECT user_id, ts, value FROM events
                    WHERE user_id IS NOT NULL),
         m AS (SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM m)
         SELECT min(ts) AS session_start, user_id,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, sid""") { (s, d) =>
      t("events")(s, d)
        .na.drop(Seq("user_id"))
        .groupBy(
          session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("sw.start").as("session_start"),
          col("user_id"), col("n_events"), col("sum_value"))
    },

    // ---- exact percentiles per group (distribution profiling) ----
    QueryDef("q_value_percentiles",
      """SELECT event_type,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.9), 6) AS p90,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events WHERE value IS NOT NULL GROUP BY event_type""") { (s, d) =>
      t("events")(s, d).na.drop(Seq("value"))
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99"))
    },

    // ---- data-quality profile: per-column null counts and exact
    //      distinct cardinalities in ONE pass (a single Expand +
    //      aggregate), long format for joining against expectations ----
    QueryDef("q_dq_profile",
      """WITH n AS (SELECT count(*) AS n_rows FROM events)
         SELECT 'event_id' AS column, n_rows,
           (SELECT count(*) FROM events WHERE event_id IS NULL) AS n_nulls,
           (SELECT count(DISTINCT event_id) FROM events) AS n_distinct
         FROM n
         UNION ALL
         SELECT 'user_id', n_rows,
           (SELECT count(*) FROM events WHERE user_id IS NULL),
           (SELECT count(DISTINCT user_id) FROM events)
         FROM n
         UNION ALL
         SELECT 'event_type', n_rows,
           (SELECT count(*) FROM events WHERE event_type IS NULL),
           (SELECT count(DISTINCT event_type) FROM events)
         FROM n
         UNION ALL
         SELECT 'value', n_rows,
           (SELECT count(*) FROM events WHERE value IS NULL),
           (SELECT count(DISTINCT value) FROM events)
         FROM n""") { (s, d) =>
      graft.ops.DataQuality.nullProfile(
        t("events")(s, d)
          .select("event_id", "user_id", "event_type", "value"))
    },

    // ---- deterministic MODE: two-level aggregate (count per value,
    //      then struct-argmax with ties to the larger value) — the
    //      built-in mode() leaves ties unspecified, so it can never
    //      hash-match; this form is exact and layout-independent ----
    QueryDef("q_mode_qty",
      """WITH c AS (SELECT l_returnflag, l_quantity, count(*) AS cnt
                    FROM lineitem GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY cnt DESC, l_quantity DESC) AS rn
               FROM c)
         SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n
         FROM r WHERE rn = 1""") { (s, d) =>
      t("lineitem")(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(max(struct(col("cnt"), col("l_quantity"))).as("m"))
        .select(col("l_returnflag"),
          col("m.l_quantity").as("mode_qty"),
          col("m.cnt").as("mode_n"))
    },

    // ---- array higher-order functions over the embedding column:
    //      per-vector profile computed INSIDE the row (transform /
    //      filter / aggregate are codegen'd, no explode, no shuffle);
    //      float->double cast first so both engines do exact-double
    //      arithmetic in array order ----
    QueryDef("q_array_hof",
      """SELECT vec_id,
         len(embedding) AS dim,
         round(sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
         len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))
           AS n_positive,
         round(list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
         FROM embeddings""") { (s, d) =>
      // null elements are skipped and an all-null/empty array yields a
      // NULL norm — DuckDB's list_sum semantics, made explicit here
      // (a bare fold would instead poison the sum to null / return the
      // 0.0 seed)
      val v = filter(
        transform(col("embedding"), x => x.cast("double")),
        x => x.isNotNull)
      t("embeddings")(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        when(size(v) > 0,
          round(sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x)), 6))
          .as("l2_norm"),
        size(filter(v, x => x > 0)).as("n_positive"),
        round(array_max(transform(v, x => abs(x))), 6).as("max_abs"))
    },

    // ---- deterministic train/val/test split: every document gets
    //      exactly one label (bands partition the md5 byte space), the
    //      same label on every run and layout — held-out stays held
    //      out across pipeline rebuilds ----
    QueryDef("q_dataset_split",
      """WITH s AS (SELECT text,
           CASE WHEN b < 240 THEN 'train'
                WHEN b < 248 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT text,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
             AS INTEGER) AS b
           FROM documents))
         SELECT split, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
         FROM s GROUP BY 1""") { (s, d) =>
      graft.ops.Sampling.datasetSplit(
          t("documents")(s, d), col("doc_id"),
          Seq(("train", 240), ("val", 8), ("test", 8)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_chars"))
    },

    // ---- deterministic 5-fold cross-validation assignment: fold =
    //      md5(doc_id) mod 5, the same fold on every run/layout/
    //      engine — per-row emission so the oracle certifies every
    //      single assignment, not just the counts ----
    // replays kFold verbatim: first 8 md5 hex chars as an integer,
    // mod 5 (('0x'||hex)::BIGINT ≡ Spark's conv(hex,16,10))
    QueryDef("q_kfold",
      """SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % 5 AS INTEGER) AS fold
         FROM documents""") { (s, d) =>
      graft.ops.Sampling.kFold(
          t("documents")(s, d).select("doc_id"), col("doc_id"), k = 5)
        .select("doc_id", "fold")
    },

    // ---- burst-collapse event dedup: drop telemetry repeats landing
    //      within 10 min of the previous same (user, type) event — one
    //      key shuffle + lag, the streaming-friendly dedup shape ----
    QueryDef("q_event_dedup_window",
      """WITH e AS (SELECT event_id, user_id, event_type, ts,
           lag(ts) OVER (PARTITION BY user_id, event_type
             ORDER BY ts ASC, event_id ASC) AS prev_ts
         FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
         SELECT event_id, user_id, event_type
         FROM e
         WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL 10 MINUTE""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us").asc, col("event_id").asc)
      t("events")(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNull ||
          col("us") - col("prev_us") > 600000000L)
        .select(col("event_id"), col("user_id"), col("event_type"))
    },

    // ---- blocked fuzzy matching over the distinct part vocabulary:
    //      near-collision names within 3 edits, candidates from a
    //      2-char prefix block equi-join — never the all-pairs
    //      cartesian ----
    QueryDef("q_fuzzy_pairs",
      """WITH p AS (SELECT DISTINCT p_name FROM part),
         b AS (SELECT p_name, substr(p_name, 1, 2) AS blk FROM p)
         SELECT a.p_name AS id_a, b2.p_name AS id_b,
           CAST(levenshtein(a.p_name, b2.p_name) AS INTEGER) AS dist
         FROM b a JOIN b b2
           ON a.blk = b2.blk AND a.p_name < b2.p_name
         WHERE levenshtein(a.p_name, b2.p_name) <= 3""") { (s, d) =>
      val names = t("part")(s, d).select(col("p_name").as("name")).distinct()
      graft.ops.FuzzyMatch.blockedLevenshteinPairs(
        names, "name", "name", prefixLen = 2, maxDist = 3)
    },

    // ---- the suffix-probed form: candidates from prefix OR suffix
    //      blocks, deduplicated — recovers edits inside the prefix ----
    // HUGEINT keeps every moment exact; one cast to double at the end
    // mirrors the Spark decimal(38,0) path bit-for-bit
    QueryDef("q_fuzzy_pairs_probed",
      """WITH p AS (SELECT DISTINCT p_name FROM part),
         pre AS (SELECT p_name, substr(p_name, 1, 2) AS blk FROM p),
         suf AS (SELECT p_name, right(p_name, 2) AS blk FROM p),
         c AS (
           SELECT a.p_name AS id_a, b.p_name AS id_b
           FROM pre a JOIN pre b
             ON a.blk = b.blk AND a.p_name < b.p_name
           UNION
           SELECT a.p_name, b.p_name
           FROM suf a JOIN suf b
             ON a.blk = b.blk AND a.p_name < b.p_name)
         SELECT id_a, id_b,
           CAST(levenshtein(id_a, id_b) AS INTEGER) AS dist
         FROM c WHERE levenshtein(id_a, id_b) <= 3""") { (s, d) =>
      val names = t("part")(s, d).select(col("p_name").as("name")).distinct()
      graft.ops.FuzzyMatch.blockedLevenshteinPairs(
        names, "name", "name", prefixLen = 2, maxDist = 3,
        suffixProbe = true)
    },

    // ---- exact-moment statistics: corr/slope from integer second
    //      moments. The built-in corr() accumulates FP co-moments in
    //      shuffle order — not reproducible, can't hash-match; exact
    //      integer sums in decimal(38,0) make the whole statistic
    //      deterministic on any cluster layout, then ONE cast to
    //      double at the end. Moments stay < 1e38 up to ~1e12 rows ----
    QueryDef("q_corr_exact",
      """WITH b AS (SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
         FROM lineitem),
         m AS (SELECT l_returnflag,
           CAST(count(*) AS HUGEINT) AS n,
           CAST(sum(x) AS HUGEINT) AS sx,
           CAST(sum(y) AS HUGEINT) AS sy,
           sum(CAST(x AS HUGEINT) * y) AS sxy,
           sum(CAST(x AS HUGEINT) * x) AS sxx,
           sum(CAST(y AS HUGEINT) * y) AS syy
         FROM b GROUP BY 1)
         SELECT l_returnflag,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
              sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             AS corr_qty_cents,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope_cents_per_qty
         FROM m""") { (s, d) =>
      val dec = "decimal(38,0)"
      val m = t("lineitem")(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        // every sum ACCUMULATES in decimal(38,0) — summing cents in
        // long would overflow the accumulator near ~1e12 rows even
        // though the final value fits
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val denx = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val deny = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      m.select(col("l_returnflag"),
        round(num / (sqrt(denx) * sqrt(deny)), 6).as("corr_qty_cents"),
        round(num / denx, 6).as("slope_cents_per_qty"))
    },

    // ---- UNPIVOT (wide -> long): 4 measure columns melt into
    //      (measure, val) rows — a Generate, shuffle-free ----
    QueryDef("q_unpivot",
      """SELECT l_orderkey, l_linenumber, measure, val
         FROM (UNPIVOT lineitem
           ON l_quantity, l_extendedprice, l_discount, l_tax
           INTO NAME measure VALUE val)""") { (s, d) =>
      t("lineitem")(s, d).unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
    },

    // ---- gap-filled hourly timeline with forward fill: densify each
    //      user's [first, last] hour via sequence+explode (no driver
    //      loop, no cross join against a global calendar), then carry
    //      the last close over gap hours. Grid size is bounded by the
    //      per-user span, and every step is one key shuffle ----
    QueryDef("q_gap_fill",
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr, ts,
           event_id, value
         FROM events
         WHERE user_id IS NOT NULL AND value IS NOT NULL
           AND ts IS NOT NULL),
         r AS (SELECT *,
           row_number() OVER (PARTITION BY user_id, hr
             ORDER BY ts DESC, event_id DESC) AS rn_d
         FROM e),
         h AS (SELECT user_id, hr, count(*) AS n_events,
           max(CASE WHEN rn_d = 1 THEN value END) AS close
         FROM r GROUP BY 1, 2),
         b AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
               FROM h GROUP BY 1),
         g AS (SELECT user_id,
           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
         FROM b)
         SELECT g.user_id, g.hr,
           coalesce(h.n_events, 0) AS n_events,
           last_value(h.close IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_value
         FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr""") { (s, d) =>
      val ev = t("events")(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
      val hourly = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"))
      val grid = hourly.groupBy(col("user_id"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("hr"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hr").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("close"), ignoreNulls = true).over(w)
            .as("filled_value"))
    },

    // ---- distribution-position window functions ----
    QueryDef("q_percent_rank",
      """SELECT event_id, event_type,
         round(percent_rank() OVER w, 6) AS pr,
         round(cume_dist() OVER w, 6) AS cd
         FROM events WHERE value IS NOT NULL
         WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)""") { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc)
      t("events")(s, d).na.drop(Seq("value"))
        .select(col("event_id"), col("event_type"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
    },

    // ---- sketch aggregates with an in-query accuracy contract:
    //      HLL distinct counts and quantile sketches are MERGEABLE
    //      partial aggregates (map-side partials, sketch-sized
    //      shuffle) — at 100 TB they replace the memory-unbounded
    //      exact forms. The booleans assert the sketch error bounds
    //      (HLL rsd 1% checked at 5% = 5 sigma; quantile rank error
    //      n/10000 checked at 5% + 0.5 absolute); the oracle emits
    //      TRUE, so a sketch drifting out of tolerance hash-fails ----
    // nd_exact is checked for real; the _ok booleans are the
    // Spark-side sketch-accuracy contract the oracle asserts
    QueryDef("q_sketch_accuracy",
      """SELECT event_type, count(DISTINCT user_id) AS nd_exact,
         TRUE AS hll_ok, TRUE AS pq_ok
         FROM events
         WHERE user_id IS NOT NULL AND value IS NOT NULL
         GROUP BY event_type""") { (s, d) =>
      val ev = t("events")(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
      // the DISTINCT aggregate runs in its own pass: mixed with the
      // regular aggregates Catalyst plans an Expand that duplicates
      // every input row through the hash aggregate (measured 8.9 s vs
      // 5.0 s for the passes run separately at sf0.1) — two narrow
      // column-pruned scans joined on the handful of group keys beat
      // 2× the row volume through one wide aggregate, at any scale
      val exactNd = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nd_exact"))
      val sketches = ev.groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("nd_hll"),
          expr("percentile(value, 0.5D)").as("p50_exact"),
          expr("approx_percentile(value, 0.5D, 10000)").as("p50_sketch"))
      // null-safe join key: a NULL event_type forms a group in both
      // aggregation passes (and in the oracle's GROUP BY); a plain
      // equi-join would silently drop it when rejoining the passes
      exactNd.join(sketches,
          exactNd("event_type") <=> sketches("event_type"))
        .drop(sketches("event_type"))
        .select(col("event_type"), col("nd_exact"),
          (abs(col("nd_hll") - col("nd_exact")) <=
            col("nd_exact") * 0.05).as("hll_ok"),
          (abs(col("p50_sketch") - col("p50_exact")) <=
            abs(col("p50_exact")) * 0.05 + 0.5).as("pq_ok"))
    },

    // ---- §2.5 extensions: rollup hierarchy totals, distinct-agg ----
    QueryDef("q_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls,
         round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""") { (s, d) =>
      t("lineitem")(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
    },

    // ---- GROUPING SETS: three aggregation levels in one shuffle
    //      (Spark expands to a single Expand + hash-agg — never three
    //      scans); grouping_id disambiguates rolled-up cells ----
    // grouping_id bit convention (1 = column aggregated away) is the
    // SQL standard one in both engines; cast to BIGINT to match Spark
    QueryDef("q_grouping_sets",
      """SELECT CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls,
         round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_returnflag), ())""") { (s, d) =>
      t("lineitem")(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
    },

    // ---- CUBE: all 2^k aggregation levels, same one-Expand plan ----
    QueryDef("q_cube_agg",
      """SELECT CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
         coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls,
         round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_rows
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""") { (s, d) =>
      t("lineitem")(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
    },

    QueryDef("q_count_distinct",
      """SELECT count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part FROM lineitem""") { (s, d) =>
      t("lineitem")(s, d).agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
    },

    // ---- §2.3 extensions: intersect / except set ops ----
    QueryDef("q_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0""") { (s, d) =>
      val o = t("orders")(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_totalprice") > 300000.0).select("o_custkey"))
    },

    QueryDef("q_except",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0""") { (s, d) =>
      val o = t("orders")(s, d)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.filter(col("o_totalprice") > 300000.0).select("o_custkey"))
    },

    // ---- S1/S8 CSV scan with explicit schema over a multi-file dir:
    //      nation exported once as a CSV fixture (csvFixture —
    //      never re-written inside the query body), read back typed —
    //      proving the reference's ingest format is readable without
    //      inferSchema ----
    // the CSV round trip is lossless for int/string columns, so the
    // oracle is simply the source table
    QueryDef("q_csv_scan",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      Tables.loadCsv(s, s"${csvFixture(s, d)}/nation", schema)
    },

    // ---- P3 timestamp parse: to_timestamp(str, fmt), the one scalar
    //      expression from §2.2 with no round-1 usage
    //      (POS_spark_dag.py:99) ----
    QueryDef("q_timestamp_parse",
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
         strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                  '%Y-%m-%d %H:%M:%S') AS ts_parsed
         FROM orders""") { (s, d) =>
      t("orders")(s, d).select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
        .select(
          col("o_orderkey"), col("ts_str"),
          to_timestamp(col("ts_str"), "yyyy-MM-dd HH:mm:ss").as("ts_parsed"))
    },

    // ---- streaming ingest semantics as a batch replay (EP3):
    //      add/edit/remove events applied to a current table via
    //      Ingest.applyEvents — edit-on-missing-key is a no-op
    //      (kafka_consumer.py:153–155), removes anti-join out ----
    // single event per key (o_orderkey unique), so the replay reduces
    // to: add upserts; edit upserts only keys present in current;
    // remove deletes
    QueryDef("q_ingest_replay",
      """WITH cur AS (SELECT o_orderkey, o_custkey, o_totalprice
                      FROM orders WHERE o_orderkey % 7 <> 0),
         ev AS (SELECT o_orderkey, o_custkey,
                  round(o_totalprice * 2, 2) AS o_totalprice,
                  CASE WHEN o_orderkey % 3 = 0 THEN 'add'
                       WHEN o_orderkey % 3 = 1 THEN 'edit'
                       ELSE 'remove' END AS kind
                FROM orders),
         ups AS (SELECT o_orderkey, o_custkey, o_totalprice FROM ev
                 WHERE kind = 'add'
                 UNION ALL
                 SELECT e.o_orderkey, e.o_custkey, e.o_totalprice FROM ev e
                 WHERE e.kind = 'edit' AND EXISTS
                   (SELECT 1 FROM cur c WHERE c.o_orderkey = e.o_orderkey)),
         rem AS (SELECT o_orderkey FROM ev WHERE kind = 'remove')
         SELECT * FROM (
           SELECT * FROM ups
           UNION ALL
           SELECT c.* FROM cur c WHERE NOT EXISTS
             (SELECT 1 FROM ups u WHERE u.o_orderkey = c.o_orderkey)) t
         WHERE NOT EXISTS
           (SELECT 1 FROM rem r WHERE r.o_orderkey = t.o_orderkey)""") { (s, d) =>
      val orders = t("orders")(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val current = orders.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      val events = orders.select(
        when(pmod(col("o_orderkey"), lit(3)) === 0, "add")
          .when(pmod(col("o_orderkey"), lit(3)) === 1, "edit")
          .otherwise("remove").as("kind"),
        col("o_orderkey").as("seq"),
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 2, 2).as("o_totalprice"))
      graft.streaming.Ingest.applyEvents(current, events, "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },

    // ---- S7 store round trip under the hash oracle: full partitioned
    //      write → incremental single-partition rewrite (earliest
    //      month, prices ×1.1) → one-scan manifest read spanning two
    //      versions → per-day aggregate. DuckDB reproduces the update as a CASE
    //      over the raw table, so the whole snapshot/manifest machinery
    //      is oracle-checked end to end ----
    // the store round trip: DuckDB reproduces the incremental
    // earliest-month price rewrite as a CASE over the raw table
    QueryDef("q_store_roundtrip",
      """WITH o AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             CASE WHEN strftime(o_orderdate, '%Y-%m') =
                 (SELECT min(strftime(o_orderdate, '%Y-%m')) FROM orders)
               THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(1.1 AS DECIMAL(18,2)), 2) AS DOUBLE)
               ELSE o_totalprice END AS p
           FROM orders)
         SELECT o_month,
           CAST(round(sum(CAST(p AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
           count(*) AS n_orders
         FROM o GROUP BY o_month""") { (s, d) =>
      val store = new graft.streaming.TableStore(storeFixture(s, d))
      store.read(s, "orders", storeOrdersSchema)
        .groupBy(col("o_month"))
        .agg(
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("sum_price"),
          count(lit(1)).as("n_orders"))
    },

    // ================= LLM-data-pipeline extensions =================

    // ---- exact dedup by content fingerprint ----
    // ================= LLM-data-pipeline extensions =================
    QueryDef("q_doc_exact_dedup",
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
         count(*) AS n_dups
         FROM documents GROUP BY 1""") { (s, d) =>
      graft.dedup.Dedup.exactDedup(t("documents")(s, d), "doc_id", "text")
    },

    // ---- text analysis: token / char / punctuation counts ----
    QueryDef("q_doc_token_stats",
      """SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) AS n_tokens,
         length(text) AS n_chars_computed,
         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digits
         FROM documents""") { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        charCount(col("text")).as("n_chars_computed"),
        punctCount(col("text")).as("n_punct"),
        digitCount(col("text")).as("n_digits"))
    },

    // ---- tokenizer-coverage diagnostic: per-doc OOV rate against
    //      the corpus's own top-20 vocabulary (the synthetic corpus
    //      has 31 distinct tokens; 20 leaves a real OOV tail) ----
    //      bounded top-k vocab
    //      broadcast onto the token stream, doc-level partials
    //      map-side; token rows never shuffle ----
    // same top-20 vocabulary under the identical (count desc, token
    // asc) total order; the whitespace tokenizer is the engine's
    // Java-regex ∩ RE2 common subset
    QueryDef("q_oov_rate",
      """WITH tok AS (SELECT doc_id,
             unnest(regexp_extract_all(text, '\S+')) AS token
           FROM documents),
         tc AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
         vocab AS (SELECT token FROM tc
                   ORDER BY c DESC, token ASC LIMIT 20),
         pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(CASE WHEN vocab.token IS NULL THEN 1
                    ELSE 0 END) AS BIGINT) AS n_oov
                FROM tok LEFT JOIN vocab ON tok.token = vocab.token
                GROUP BY 1)
         SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
           coalesce(n_oov, 0) AS n_oov,
           CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
             ELSE n_oov * 10000 // n_tokens END AS oov_bp
         FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""") { (s, d) =>
      graft.text.TextOps.oovRate(
          t("documents")(s, d), col("doc_id"), col("text"),
          vocabSize = 20)
        .withColumnRenamed("id", "doc_id")
    },

    // ---- corpus-slice similarity: pairwise vocabulary Jaccard
    //      between sources — distinct (source, token) self-join,
    //      per-token fan-out bounded by #sources², zero-overlap pairs
    //      kept via the margins grid; integer basis points ----
    // identical distinct-(source, token) self-join and margins grid;
    // integer basis points — no float anywhere on either side
    QueryDef("q_source_overlap",
      """WITH st AS (SELECT DISTINCT source AS src,
             unnest(regexp_extract_all(text, '\S+')) AS token
           FROM documents),
         sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS nv
                   FROM st GROUP BY 1),
         inter AS (SELECT a.src AS s1, b.src AS s2,
                     CAST(count(*) AS BIGINT) AS i
                   FROM st a JOIN st b ON a.token = b.token
                     AND a.src < b.src
                   GROUP BY 1, 2)
         SELECT x.src AS s1, y.src AS s2,
           coalesce(i, 0) AS inter, x.nv + y.nv - coalesce(i, 0)
             AS union_nv,
           coalesce(i, 0) * 10000 // (x.nv + y.nv - coalesce(i, 0))
             AS jaccard_bp
         FROM sizes x JOIN sizes y ON x.src < y.src
         LEFT JOIN inter ON inter.s1 = x.src AND inter.s2 = y.src""") { (s, d) =>
      graft.text.TextOps.sourceVocabOverlap(
        t("documents")(s, d), col("source"), col("text"))
    },

    // ---- chi-square independence: market segment × order priority —
    //      exact 6-dp integer lattice over the full margins grid, so
    //      the statistic has no float summation order to disagree on;
    //      one fact-scale hash agg, everything after is ≤ k·m cells --
    // the same 6-dp lattice arithmetic cell by cell: E = ⌊r·c·10⁶/n⌋
    // (clamped to ≥1), d = o·10⁶ − E, contrib = ⌊d²/E⌋, over the FULL
    // margins grid (absent cells enter with o = 0)
    QueryDef("q_chi_square",
      """WITH f AS (SELECT c_mktsegment AS r, o_orderpriority AS c
           FROM orders JOIN customer ON o_custkey = c_custkey),
         ct AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o
                FROM f GROUP BY 1, 2),
         rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn
                FROM ct GROUP BY 1),
         cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn
                FROM ct GROUP BY 1),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                  CAST(count(DISTINCT r) AS BIGINT) AS k,
                  CAST(count(DISTINCT c) AS BIGINT) AS m FROM ct),
         grid AS (SELECT rm.r, cm.c, rn, cn, coalesce(ct.o, 0) AS o
                  FROM rm CROSS JOIN cm
                  LEFT JOIN ct ON ct.r = rm.r AND ct.c = cm.c),
         cell AS (SELECT o, greatest(1,
             CAST(CAST(rn AS HUGEINT) * cn * 1000000 // n AS BIGINT))
             AS emicro FROM grid, nn),
         dm AS (SELECT CAST(o * 1000000 - emicro AS BIGINT) AS dmicro,
                  emicro FROM cell)
         SELECT CAST(sum(CAST(CAST(dmicro AS HUGEINT) * dmicro
             // emicro AS BIGINT)) AS BIGINT) AS chi2_micro,
           (k - 1) * (m - 1) AS dof, n
         FROM dm, nn GROUP BY 2, 3""") { (s, d) =>
      graft.ops.Experiment.chiSquare(
        t("orders")(s, d)
          .join(t("customer")(s, d),
            col("o_custkey") === col("c_custkey")),
        col("c_mktsegment"), col("o_orderpriority"))
    },

    // ---- mutual information (nats, 9-dp lattice) on the same
    //      contingency — the effect-size companion to the χ² verdict;
    //      observed cells only, Σ o·round(ln,9) as integer nano-units,
    //      HALF_UP long division at the end ----
    // same 9-dp lattice replay: round(ln,9) per observed cell with
    // the identical double op sequence, Σ o·l9 in exact integers,
    // HALF_UP integer division — the lm_score discipline on a
    // bounded contingency table
    QueryDef("q_mutual_info",
      """WITH f AS (SELECT c_mktsegment AS r, o_orderpriority AS c
           FROM orders JOIN customer ON o_custkey = c_custkey),
         ct AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o
                FROM f GROUP BY 1, 2),
         rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn
                FROM ct GROUP BY 1),
         cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn
                FROM ct GROUP BY 1),
         nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM ct),
         cell AS (SELECT o, n,
             CAST(CAST(round(ln((CAST(o AS DOUBLE) * n) /
                 (CAST(rn AS DOUBLE) * cn)), 9) AS DECIMAL(20,9))
               * 1000000000 AS BIGINT) AS l9
           FROM ct JOIN rm ON rm.r = ct.r JOIN cm ON cm.c = ct.c,
             nn),
         s AS (SELECT n, CAST(sum(CAST(o AS HUGEINT) * l9) AS HUGEINT)
                 AS s9 FROM cell GROUP BY 1)
         SELECT CAST((CASE WHEN s9 < 0 THEN -1 ELSE 1 END) *
             ((2 * abs(s9) + n) // (2 * n)) AS BIGINT) AS mi_nano, n
         FROM s""") { (s, d) =>
      graft.ops.Experiment.mutualInformation(
        t("orders")(s, d)
          .join(t("customer")(s, d),
            col("o_custkey") === col("c_custkey")),
        col("c_mktsegment"), col("o_orderpriority"))
    },

    // ---- text quality gate (integer-threshold heuristic) ----
    QueryDef("q_doc_quality",
      """SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) AS n_tokens,
         (len(regexp_extract_all(text, '\S+')) >= 10 AND
          len(regexp_extract_all(text, '[.,!?;:]')) * 2
            <= len(regexp_extract_all(text, '\S+'))) AS quality_ok
         FROM documents""") { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        qualityOk(col("text")).as("quality_ok"))
    },

    // ---- language ID (stopword-hit heuristic) ----
    QueryDef("q_doc_langid",
      """WITH h AS (SELECT doc_id,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS en_hits,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de_hits,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS fr_hits,
           len(regexp_extract_all(lower(text), '\b(el|los|las|es|un|una)\b')) AS es_hits
         FROM documents)
         SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= fr_hits
              AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
             WHEN de_hits >= en_hits AND de_hits >= fr_hits
              AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
             WHEN fr_hits >= en_hits AND fr_hits >= de_hits
              AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
             WHEN es_hits >= en_hits AND es_hits >= de_hits
              AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
             ELSE 'unknown' END AS lang_pred
         FROM h""") { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        wordHits(col("text"), stopwords("en")).as("en_hits"),
        wordHits(col("text"), stopwords("de")).as("de_hits"),
        wordHits(col("text"), stopwords("fr")).as("fr_hits"),
        wordHits(col("text"), stopwords("es")).as("es_hits"),
        langId(col("text")).as("lang_pred"))
    },

    // ---- document fingerprinting ----
    QueryDef("q_doc_fingerprint",
      """SELECT doc_id, md5(text) AS fp,
         substr(md5(text), 1, 4) AS fp_bucket
         FROM documents""") { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        substring(fingerprint(col("text")), 1, 4).as("fp_bucket"))
    },

    // ---- BPE-ish pre-token counting (training-data budget proxy) ----
    QueryDef("q_doc_bpe_tokens",
      """SELECT doc_id,
         len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
         len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
           AS n_bpe_tokens
         FROM documents""") { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_ws_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"))
    },

    // ---- TF-IDF corpus weighting (two hash-aggs + broadcast scalar) ----
    QueryDef("q_doc_tfidf",
      """WITH toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
         SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
         FROM tf JOIN df USING (term) CROSS JOIN n""") { (s, d) =>
      graft.text.TextOps.tfidf(t("documents")(s, d), "doc_id", "text")
    },

    // ---- keyword extraction: top-3 TF-IDF terms per document via
    //      the bounded-heap top-k (≤ k-row state per doc through the
    //      exchange — never a per-doc window sort); deterministic
    //      (score desc, term asc) tie-break through a negated-score
    //      struct; both engines rank the identical 6-dp scores ----
    // same rounded 6-dp scores (tfidf oracle is hash-green), ranked
    // under the identical (score desc, term asc) total order
    QueryDef("q_doc_keywords",
      """WITH toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df
                FROM toks GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
               AS tfidf
           FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, tfidf, row_number() OVER
             (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC)
             AS rank FROM sc)
         SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
         FROM r WHERE rank <= 3""") { (s, d) =>
      graft.ops.TopK.topKPerGroup(
          graft.text.TextOps.tfidf(t("documents")(s, d), "doc_id", "text")
            .select(col("doc_id"),
              struct((-col("tfidf")).as("_neg"), col("term"),
                col("tfidf")).as("o")),
          keys = Seq("doc_id"), ord = col("o"), k = 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
    },

    // ---- BM25 document-term scores (Lucene idf form) ----
    QueryDef("q_doc_bm25",
      """WITH toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs,
                   avg(coalesce(dl.dl, 0)) AS avgdl
                 FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id)
         SELECT tf.doc_id, tf.term, tf.tf,
           round(
             ln((tot.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl))),
             6) AS bm25
         FROM tf
         JOIN dl ON dl.doc_id = tf.doc_id
         JOIN df ON df.term = tf.term
         CROSS JOIN tot""") { (s, d) =>
      graft.text.TextOps.bm25(t("documents")(s, d), "doc_id", "text")
    },

    // ---- PII redaction: email/phone/IPv4 → typed placeholder tags.
    //      The corpus is synthetic word soup, so PII-shaped strings
    //      are derived per-doc INSIDE the query (identically in the
    //      oracle SQL) and then scrubbed — the operator under test is
    //      the chained regexp_replace, which stays codegen'd and
    //      shuffle-free over a 100 TB corpus ----
    // PII-bearing text derived identically (the corpus itself is
    // PII-free word soup); regexes are in the Java∩RE2 subset; the
    // 'g' flag matches Spark's replace-all default
    QueryDef("q_doc_redact",
      """WITH src AS (SELECT doc_id,
           text || ' reach user' || CAST(doc_id AS VARCHAR) ||
           '@mail.example.org or 555-123-4567 at 10.0.' ||
           CAST(doc_id % 256 AS VARCHAR) || '.7' AS derived
         FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(derived,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
             AS red_text,
           CAST(len(regexp_extract_all(derived,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(derived,
             '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b')) AS BIGINT) AS n_phones
         FROM src""") { (s, d) =>
      import graft.text.TextOps._
      val derived = concat(
        col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@mail.example.org or 555-123-4567 at 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      t("documents")(s, d).select(
        col("doc_id"),
        redactPii(derived).as("red_text"),
        size(regexp_extract_all(derived, lit(emailPattern), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(derived, lit(phonePattern), lit(0)))
          .cast("long").as("n_phones"))
    },

    // ---- Gopher-style repetition quality signals: duplicate-token
    //      fraction + top-token fraction per document ----
    QueryDef("q_doc_repetition",
      """WITH tf AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '\S+')) AS term
                 FROM documents)
           GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(tf) AS top_tf
           FROM tf GROUP BY 1)
         SELECT doc_id, n_tokens,
           round(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 6)
             AS dup_token_frac,
           round(CAST(top_tf AS DOUBLE) / n_tokens, 6) AS top_token_frac
         FROM agg""") { (s, d) =>
      graft.text.TextOps.repetitionSignals(
        t("documents")(s, d), "doc_id", "text")
    },

    // ---- character-entropy quality signal: shuffle-free native
    //      expression; the oracle replays the identical sorted fold ----
    // sorted-codepoint fold (UTF-8 byte order == codepoint order), the
    // same left-fold order as the native expression; `0 -` not unary
    // minus so single-class docs emit +0.0 on both engines
    QueryDef("q_doc_entropy",
      """WITH ch AS (SELECT doc_id,
           unnest(regexp_split_to_array(text, '')) c FROM documents),
         f AS (SELECT doc_id, c, count(*) k FROM ch
           WHERE c <> '' GROUP BY 1, 2),
         s AS (SELECT doc_id, list_sort(list({'c': c, 'k': k})) arr,
             sum(k) n
           FROM f GROUP BY 1)
         SELECT doc_id, round(0 - list_reduce(list_transform(arr,
             x -> (CAST(x.k AS DOUBLE) / n) * ln(CAST(x.k AS DOUBLE) / n)),
           (a, b) -> a + b), 6) AS entropy
         FROM s""") { (s, d) =>
      t("documents")(s, d).select(
        col("doc_id"),
        round(graft.text.TextOps.charEntropy(col("text")), 6)
          .as("entropy"))
    },

    // ---- flagship pretraining-corpus pipeline: quality gate →
    //      language filter → exact dedup (min-id per fingerprint) →
    //      deterministic hash sample. The composition a reference user
    //      runs end-to-end before training; every stage is the
    //      already-proven operator, chained. One explode-free scan for
    //      the per-doc features, ONE shuffle (the fingerprint groupBy
    //      — the join back is on the SAME key so AQE reuses the
    //      exchange), and the sample filter is a scan-side predicate ----
    QueryDef("q_pretrain_pipeline",
      """WITH enriched AS (SELECT doc_id, text,
           len(regexp_extract_all(text, '\S+')) AS n_tokens,
           len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS en_hits,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de_hits,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS fr_hits,
           len(regexp_extract_all(lower(text), '\b(el|los|las|es|un|una)\b')) AS es_hits,
           md5(text) AS fp
         FROM documents),
         filtered AS (SELECT * FROM enriched
           WHERE n_tokens >= 10 AND n_punct * 2 <= n_tokens
             AND en_hits >= de_hits AND en_hits >= fr_hits
             AND en_hits >= es_hits AND en_hits > 0),
         kept AS (SELECT fp, min(doc_id) AS doc_id
           FROM filtered GROUP BY 1)
         SELECT k.doc_id, f.n_tokens, k.fp
         FROM kept k JOIN filtered f ON f.doc_id = k.doc_id
         WHERE substr(k.fp, 1, 2) < 'c0'""") { (s, d) =>
      import graft.text.TextOps._
      val enriched = t("documents")(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        langId(col("text")).as("lang_pred"),
        fingerprint(col("text")).as("fp"))
      val filtered = enriched.filter(
        col("n_tokens") >= 10 &&
          col("n_punct") * 2 <= col("n_tokens") &&
          col("lang_pred") === "en")
      val kept = filtered.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
      kept.join(filtered.select("doc_id", "n_tokens"), Seq("doc_id"))
        .filter(substring(col("fp"), 1, 2) < "c0") // keep 192/256 = 75%
        .select("doc_id", "n_tokens", "fp")
    },

    // ---- benchmark decontamination: training docs sharing a 4-gram
    //      with the held-out eval shard (doc_id % 20 == 0 plays the
    //      benchmark suite); the benchmark shingle set broadcasts,
    //      the train side is one map-side semi-joined scan ----
    // 4-gram shingle sets per side (distinct per doc, short-doc
    // fallback = whole token sequence, matching shingleHashes); a
    // train doc's hit count = its shingles present in the benchmark
    // shingle union
    QueryDef("q_decontaminate",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
             THEN [array_to_string(toks[i:i+3], ' ')
                   for i in range(1, len(toks) - 2)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         bench AS (SELECT DISTINCT unnest(sh) s FROM g
           WHERE doc_id % 20 = 0),
         train AS (SELECT doc_id, unnest(sh) s FROM g
           WHERE doc_id % 20 <> 0)
         SELECT train.doc_id, count(*) AS n_contaminated
         FROM train JOIN bench USING (s) GROUP BY 1""") { (s, d) =>
      val docs = t("documents")(s, d)
      graft.dedup.Dedup.decontaminate(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", shingleLen = 4)
    },

    // ---- contamination fraction report: hit counts over every
    //      training doc with its own shingle count and contaminated
    //      fraction — the PaLM-style fraction-threshold scrub input --
    // q_decontaminate's derivation extended over every train doc:
    // LEFT JOIN the hit counts, denominator = the SAME list_distinct
    // shingle set, fraction rounded 6dp (the repetitionSignals
    // discipline for int/int→double ratios)
    QueryDef("q_contamination_report",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 4
             THEN [array_to_string(toks[i:i+3], ' ')
                   for i in range(1, len(toks) - 2)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         bench AS (SELECT DISTINCT unnest(sh) s FROM g
           WHERE doc_id % 20 = 0),
         train AS (SELECT doc_id, unnest(sh) s FROM g
           WHERE doc_id % 20 <> 0),
         hits AS (SELECT train.doc_id, count(*) AS n
           FROM train JOIN bench USING (s) GROUP BY 1),
         sz AS (SELECT doc_id, len(sh) AS n_shingles FROM g
           WHERE doc_id % 20 <> 0)
         SELECT sz.doc_id, sz.n_shingles,
           COALESCE(hits.n, 0) AS n_contaminated,
           round(CAST(COALESCE(hits.n, 0) AS DOUBLE) / sz.n_shingles, 6)
             AS contaminated_frac
         FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id""") { (s, d) =>
      val docs = t("documents")(s, d)
      graft.dedup.Dedup.contaminationReport(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", shingleLen = 4)
    },

    // ---- semantic decontamination: train embeddings within cosine
    //      0.4 of a held-out benchmark item (vec_id % 25 == 0 plays
    //      the eval suite) — the paraphrase-robust complement to the
    //      n-gram scrub; bench side broadcasts, train side is one
    //      map-side codegen'd scan ----
    // same cosine algebra as q_embedding_neardup, cross-set; best
    // bench match per train item via row_number on the UNROUNDED cos;
    // norm > 0 mirrors the operator's zero-vector guard (a zero-norm
    // row has no direction — cos would be 0/0)
    QueryDef("q_decontaminate_semantic",
      """WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         n AS (SELECT vec_id, v,
             sqrt(list_reduce(list_transform(v, x -> x * x),
               (acc, x) -> acc + x)) AS nrm
           FROM e),
         b AS (SELECT vec_id AS bench_id, v AS bv FROM n
           WHERE vec_id % 25 = 0 AND nrm > 0),
         t AS (SELECT vec_id, v FROM n
           WHERE vec_id % 25 <> 0 AND nrm > 0),
         s AS (SELECT t.vec_id, b.bench_id,
             list_reduce(list_transform(list_zip(t.v, b.bv),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(t.v, x -> x * x),
                  (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(b.bv, x -> x * x),
                  (acc, x) -> acc + x))) AS cos
           FROM t, b),
         j AS (SELECT vec_id, bench_id, cos,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cos DESC, bench_id ASC) rn
           FROM s WHERE cos >= 0.4)
         SELECT vec_id, bench_id, round(cos, 4) AS cos
         FROM j WHERE rn = 1""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.dedup.Dedup.decontaminateEmbeddings(
        emb.filter(col("vec_id") % 25 =!= 0),
        emb.filter(col("vec_id") % 25 === 0),
        "vec_id", "embedding", 0.4)
    },

    // ---- incremental cross-corpus dedup: best ≥0.8-Jaccard corpus
    //      match per new-batch doc (batch = doc_id % 5 == 0) — the
    //      daily-crawl-vs-historical-corpus shape, O(batch) not
    //      O(corpus) per increment ----
    // cross-set trigram Jaccard; best corpus match per batch doc =
    // highest jaccard, ties toward the smallest corpus id — the
    // ORDER BY uses the UNROUNDED jaccard (bit-identical integer
    // division in both engines), rounding only the emitted value
    QueryDef("q_dedup_incremental",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [array_to_string(toks[i:i+2], ' ')
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT b.doc_id batch_doc, c.doc_id corpus_doc,
                 count(*) common
               FROM e b JOIN e c ON b.s = c.s
               WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g),
         j AS (SELECT batch_doc, corpus_doc,
                 CAST(common AS DOUBLE)
                   / CAST(a.n_sh + b.n_sh - common AS DOUBLE) AS jac,
                 row_number() OVER (PARTITION BY batch_doc
                   ORDER BY CAST(common AS DOUBLE)
                     / CAST(a.n_sh + b.n_sh - common AS DOUBLE) DESC,
                   corpus_doc ASC) AS rn
               FROM p
               JOIN sz a ON a.doc_id = batch_doc
               JOIN sz b ON b.doc_id = corpus_doc
               WHERE CAST(common AS DOUBLE)
                   / CAST(a.n_sh + b.n_sh - common AS DOUBLE) >= 0.8)
         SELECT batch_doc, corpus_doc AS dup_of,
           round(jac, 6) AS jaccard
         FROM j WHERE rn = 1""") { (s, d) =>
      val docs = t("documents")(s, d)
      graft.dedup.Dedup.dedupAgainstCorpus(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
    },

    // ---- exact incremental dedup via the stored fingerprint + Bloom
    //      index (batch = doc_id % 2 == 0 — the split with cross-side
    //      exact duplicates at sf0.1): every batch doc with the
    //      smallest corpus doc holding identical text, NULL ⇒
    //      genuinely new. Bloom-negative rows short-circuit map-side
    //      with zero exchanges; only Bloom survivors pay the index
    //      join, which also clears the fpp tail ----
    // exact incremental report: every batch doc; dup_of = smallest
    // corpus doc with byte-identical text (NULL = new). The engine
    // joins on the md5 fingerprint; text equality is the same
    // relation modulo md5 collision (the documented tolerance)
    QueryDef("q_dedup_incremental_exact",
      """SELECT b.doc_id AS batch_doc, min(c.doc_id) AS dup_of
         FROM documents b
         LEFT JOIN documents c ON c.doc_id % 2 <> 0 AND c.text = b.text
         WHERE b.doc_id % 2 = 0
         GROUP BY 1""") { (s, d) =>
      val docs = t("documents")(s, d)
      val idx = graft.dedup.Dedup.exactFingerprintIndex(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
      graft.dedup.Dedup.exactAgainstCorpus(
        docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text",
        bloom = Some(graft.dedup.Dedup.exactBloomIndex(idx)))
    },

    // ---- CCNet-style boilerplate segment removal: aligned 10-token
    //      segments occurring in ≥2 distinct docs are deleted, text
    //      reassembled in order; row count stays = |documents| ----
    // aligned 10-token segments; segments in ≥2 distinct docs are
    // boilerplate; surviving segments reassemble in index order, and
    // fully-boilerplate docs stay as empty-text rows
    QueryDef("q_boilerplate_strip",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         segs AS (SELECT doc_id, unnest(
             [{'idx': i, 'seg': array_to_string(toks[i*10+1:(i+1)*10], ' ')}
              for i in range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))],
             recursive := true) FROM t),
         freq AS (SELECT seg, count(DISTINCT doc_id) nd
           FROM segs GROUP BY 1),
         kept AS (SELECT s.doc_id, s.idx, s.seg
           FROM segs s JOIN freq f USING (seg) WHERE f.nd < 2),
         re AS (SELECT doc_id,
             string_agg(seg, ' ' ORDER BY idx) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY 1)
         SELECT d.doc_id, coalesce(re.clean_text, '') AS clean_text,
           CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept_segments
         FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id""") { (s, d) =>
      graft.text.TextOps.stripBoilerplate(
        t("documents")(s, d), "doc_id", "text")
    },

    // ---- bigram-LM perplexity scoring (the CCNet/KenLM quality-
    //      filter stage, counting form): train unigram+bigram counts
    //      over the corpus (two count shuffles), score every document
    //      by its mean add-half-smoothed bigram log-probability;
    //      per-term logs rounded to 9 dp then decimal-summed, so
    //      scores are exact on any layout and oracle-replayable ----
    // replays LangModel.scoreDocs arithmetic exactly: identical
    // operation order inside the per-term expression, ln agreeing
    // bit-for-bit with JVM Math.log, round-to-9dp before the decimal
    // cast (unrounded scale-12 casts diverge between shortest-repr
    // and exact-binary rounding), DECIMAL(28,12) sums → DECIMAL(38,12)
    QueryDef("q_lm_score", lmScoreSql) { (s, d) =>
      val docs = t("documents")(s, d)
      val lm = graft.text.LangModel.train(docs, col("text"))
      graft.text.LangModel.scoreDocs(docs, "doc_id", "text", lm)
    },

    // ---- perplexity-band curriculum histogram: docs binned by fixed
    //      1/32-unit bands of the exactly-rounded LM score (curriculum
    //      phases bin on score VALUE bands, not global ranks — a
    //      global ntile would be a single-partition sort at 100 TB;
    //      this is one hash aggregate over the scored scan) ----
    // perplexity-band curriculum histogram over the SAME scored docs:
    // lm_score is the exactly-rounded 9-dp mean, so floor(2·score) is
    // engine-stable and the whole binning is one hash aggregate
    QueryDef("q_lm_buckets",
      s"""WITH scored AS ($lmScoreSql)
         SELECT CAST(floor(lm_score * 32) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           min(lm_score) AS lo, max(lm_score) AS hi
         FROM scored WHERE n_bigrams > 0
         GROUP BY 1""") { (s, d) =>
      val docs = t("documents")(s, d)
      val lm = graft.text.LangModel.train(docs, col("text"))
      graft.text.LangModel.scoreDocs(docs, "doc_id", "text", lm)
        .filter(col("n_bigrams") > 0)
        .groupBy(floor(col("lm_score") * 32).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          min(col("lm_score")).as("lo"),
          max(col("lm_score")).as("hi"))
    },

    // ---- canonical text cleanup: NFC composition (native codegen'd
    //      expression) + whitespace collapse + trim; the md5 of the
    //      cleaned text proves the whole transform byte-equal to
    //      DuckDB's independent nfc_normalize on multilingual text ----
    // DuckDB's nfc_normalize implements the same Unicode canonical
    // composition as java.text.Normalizer NFC; length() counts
    // codepoints in both engines
    QueryDef("q_doc_normalize",
      """SELECT doc_id,
           length(trim(regexp_replace(nfc_normalize(text),
             '\s+', ' ', 'g'))) AS n_chars_norm,
           md5(trim(regexp_replace(nfc_normalize(text),
             '\s+', ' ', 'g'))) AS norm_fp
         FROM documents""") { (s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"),
          graft.text.TextOps.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"),
          length(col("norm")).as("n_chars_norm"),
          md5(col("norm").cast("binary")).as("norm_fp"))
    },

    // ---- DSIR importance weights (Xie et al. 2023 importance
    //      resampling): hashed-ngram (uni+bigram, 4096 md5 buckets)
    //      distribution match of every document against a curated
    //      target corpus (source src0); per-bucket log ratios rounded
    //      to 9 dp, per-doc DECIMAL sums — exact on any layout and
    //      replayed by the DuckDB oracle ----
    // replays Dsir.fit + scoreDocs: hashed grams (unigrams + adjacent
    // bigrams of lowercased \S+ tokens) bucketed by the first 3 md5
    // hex chars (('0x'||hex)::BIGINT ≡ Spark's conv(hex,16,10));
    // add-1-smoothed log ratios rounded to 9 dp then DECIMAL-summed
    // per doc — the q_lm_score determinism discipline. The ratio CTE
    // only needs buckets present in the raw corpus (scored docs = raw
    // corpus, so every scored bucket is covered)
    QueryDef("q_dsir_weights",
      """WITH toks AS (
           SELECT doc_id, source,
             regexp_extract_all(lower(text), '\S+') AS arr
           FROM documents),
         grams AS (
           SELECT doc_id, source, unnest(arr) AS g FROM toks
           UNION ALL
           SELECT doc_id, source, arr[pos+1] || ' ' || arr[pos+2] AS g
           FROM (SELECT doc_id, source, arr,
                   unnest(range(len(arr) - 1)) AS pos
                 FROM toks WHERE len(arr) >= 2)),
         b AS (SELECT doc_id, source,
             ('0x' || substr(md5(g), 1, 3))::BIGINT AS bucket
           FROM grams),
         tc AS (SELECT bucket, count(*) AS ct FROM b
           WHERE source = 'src0' GROUP BY bucket),
         rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
         tot AS (SELECT
           (SELECT count(*) FROM b WHERE source = 'src0') AS nt,
           (SELECT count(*) FROM b) AS nr),
         ratio AS (
           SELECT rc.bucket,
             CAST(round(
               ln((COALESCE(tc.ct, 0) + CAST(1 AS DOUBLE)) /
                  (tot.nt + CAST(4096 AS DOUBLE))) -
               ln((rc.cr + CAST(1 AS DOUBLE)) /
                  (tot.nr + CAST(4096 AS DOUBLE))), 9)
               AS DECIMAL(28,12)) AS lr
           FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot),
         per_doc AS (
           SELECT b.doc_id, sum(r.lr) AS logw_sum, count(*) AS n_grams
           FROM b JOIN ratio r ON b.bucket = r.bucket
           GROUP BY b.doc_id)
         SELECT d.doc_id,
           COALESCE(p.n_grams, 0) AS n_grams,
           -- both sum columns emit as 9-dp-rounded DOUBLEs (the
           -- q_lm_score certified-surface rule: raw DECIMAL output
           -- renders decimal.Decimal vs float64 across readers)
           round(CAST(COALESCE(p.logw_sum, CAST(0 AS DECIMAL(38,12)))
             AS DOUBLE), 9) AS logw_sum,
           round(CAST(COALESCE(p.logw_sum, CAST(0 AS DECIMAL(38,12)))
             AS DOUBLE), 9) AS dsir_logw
         FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id""") { (s, d) =>
      val docs = t("documents")(s, d)
      val model = graft.text.Dsir.fitWithin(
        docs, col("source") === "src0", col("text"), buckets = 4096)
      graft.text.Dsir.scoreDocs(docs, "doc_id", "text", model)
    },

    // ---- DSIR Gumbel-top-k resampling: 100 docs drawn without
    //      replacement with probability ∝ importance weight — the
    //      Gumbel noise is md5-derived, so the "random" draw is the
    //      same rows on every run/layout/engine and plans as
    //      distributed top-k, never a global sort ----
    // q_dsir_weights plus the deterministic Gumbel-top-k draw: key =
    // round(logw + (-ln(-ln(u))), 9) with u from the first 12 md5 hex
    // chars of the doc id (48 bits, exact in a double; +1/+2 keep u
    // inside (0,1)); 16^12 + 2 = 281474976710658. ORDER BY key DESC,
    // id LIMIT 100 replays Spark's TakeOrdered — ranking on the
    // ROUNDED key (ties to id) absorbs the last-ulp ln() divergence
    // between libm implementations, so the selected set and the
    // emitted values are both engine-stable
    QueryDef("q_dsir_select",
      """WITH toks AS (
           SELECT doc_id, source,
             regexp_extract_all(lower(text), '\S+') AS arr
           FROM documents),
         grams AS (
           SELECT doc_id, source, unnest(arr) AS g FROM toks
           UNION ALL
           SELECT doc_id, source, arr[pos+1] || ' ' || arr[pos+2] AS g
           FROM (SELECT doc_id, source, arr,
                   unnest(range(len(arr) - 1)) AS pos
                 FROM toks WHERE len(arr) >= 2)),
         b AS (SELECT doc_id, source,
             ('0x' || substr(md5(g), 1, 3))::BIGINT AS bucket
           FROM grams),
         tc AS (SELECT bucket, count(*) AS ct FROM b
           WHERE source = 'src0' GROUP BY bucket),
         rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket),
         tot AS (SELECT
           (SELECT count(*) FROM b WHERE source = 'src0') AS nt,
           (SELECT count(*) FROM b) AS nr),
         ratio AS (
           SELECT rc.bucket,
             CAST(round(
               ln((COALESCE(tc.ct, 0) + CAST(1 AS DOUBLE)) /
                  (tot.nt + CAST(4096 AS DOUBLE))) -
               ln((rc.cr + CAST(1 AS DOUBLE)) /
                  (tot.nr + CAST(4096 AS DOUBLE))), 9)
               AS DECIMAL(28,12)) AS lr
           FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot),
         per_doc AS (
           SELECT b.doc_id, sum(r.lr) AS logw_sum, count(*) AS n_grams
           FROM b JOIN ratio r ON b.bucket = r.bucket
           GROUP BY b.doc_id),
         scored AS (
           SELECT d.doc_id,
             COALESCE(p.n_grams, 0) AS n_grams,
             round(CAST(COALESCE(p.logw_sum, CAST(0 AS DECIMAL(38,12)))
               AS DOUBLE), 9) AS logw_sum,
             round(CAST(COALESCE(p.logw_sum, CAST(0 AS DECIMAL(38,12)))
               AS DOUBLE), 9) AS dsir_logw
           FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id),
         keyed AS (
           SELECT *, round(dsir_logw + (- ln(- ln(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  ::BIGINT + CAST(1 AS DOUBLE)) /
               CAST(281474976710658 AS DOUBLE)))), 9) AS gumbel_key
           FROM scored)
         SELECT * FROM keyed
         ORDER BY gumbel_key DESC, doc_id LIMIT 100""") { (s, d) =>
      val docs = t("documents")(s, d)
      val model = graft.text.Dsir.fitWithin(
        docs, col("source") === "src0", col("text"), buckets = 4096)
      graft.text.Dsir.resample(docs, "doc_id", "text", model, k = 100)
    },

    // ---- corpus drift report: per-bucket Jensen-Shannon terms
    //      between src0 and the rest of the corpus over the DSIR
    //      hashed-gram feature space — "did this snapshot's
    //      distribution move"; two bounded count passes, then pure
    //      arithmetic over 4096 rows. Every term replayed by the
    //      oracle (9-dp round absorbs ln's cross-engine ulp) ----
    // replays Drift.bucketDrift: the q_dsir_weights gram/bucket CTEs
    // split by source, densified over all 4096 buckets via range();
    // probabilities are single exact divisions, the JS term mirrors
    // Spark's ln(x)*(1/ln 2) spelling with the same literal constant,
    // rounded to 9 dp on both sides
    QueryDef("q_corpus_drift",
      """WITH toks AS (
           SELECT source, regexp_extract_all(lower(text), '\S+') AS arr
           FROM documents),
         grams AS (
           SELECT source, unnest(arr) AS g FROM toks
           UNION ALL
           SELECT source, arr[pos+1] || ' ' || arr[pos+2] AS g
           FROM (SELECT source, arr, unnest(range(len(arr) - 1)) AS pos
                 FROM toks WHERE len(arr) >= 2)),
         b AS (SELECT source,
             ('0x' || substr(md5(g), 1, 3))::BIGINT AS bucket
           FROM grams),
         ca AS (SELECT bucket, count(*) AS c_a FROM b
           WHERE source = 'src0' GROUP BY bucket),
         cb AS (SELECT bucket, count(*) AS c_b FROM b
           WHERE source <> 'src0' GROUP BY bucket),
         allb AS (SELECT unnest(range(4096)) AS bucket),
         j AS (
           SELECT allb.bucket,
             COALESCE(ca.c_a, 0) AS c_a, COALESCE(cb.c_b, 0) AS c_b
           FROM allb LEFT JOIN ca ON ca.bucket = allb.bucket
                     LEFT JOIN cb ON cb.bucket = allb.bucket),
         tot AS (SELECT sum(c_a) AS na, sum(c_b) AS nb FROM j),
         p AS (
           SELECT j.bucket, j.c_a, j.c_b,
             (j.c_a + CAST(1 AS DOUBLE)) / (tot.na + 4096.0) AS p_a,
             (j.c_b + CAST(1 AS DOUBLE)) / (tot.nb + 4096.0) AS p_b
           FROM j CROSS JOIN tot)
         SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           p_a, p_b,
           round((p_a * ln(p_a * 2.0 / (p_a + p_b)) +
                  p_b * ln(p_b * 2.0 / (p_a + p_b)))
             * 1.4426950408889634 * 0.5, 9) AS js_term
         FROM p""") { (s, d) =>
      graft.text.Drift.bucketDriftWithin(
        t("documents")(s, d), col("source") === "src0",
        col("text"), buckets = 4096)
    },

    // ---- corpus card: the one-call dataset datasheet — size, source
    //      fan-out, token/char volume, exact-dup mass, empty docs,
    //      language mix; ALL exact integers in one aggregation pass,
    //      long format so snapshot cards diff with a join ----
    // replays corpusCard: the q_doc_langid CASE (ties in en/de/fr/es
    // order), \S+ token counts, md5 text fingerprints — all exact
    // integers, unioned in the same fixed metric vocabulary
    QueryDef("q_corpus_card",
      """WITH h AS (SELECT
           source, text,
           length(text) AS chars,
           len(regexp_extract_all(text, '\S+')) AS ntok,
           md5(text) AS fp,
           len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS en_hits,
           len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de_hits,
           len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|un)\b')) AS fr_hits,
           len(regexp_extract_all(lower(text), '\b(el|los|las|es|un|una)\b')) AS es_hits
         FROM documents),
         l AS (SELECT *,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= fr_hits
              AND en_hits >= es_hits AND en_hits > 0 THEN 'en'
             WHEN de_hits >= en_hits AND de_hits >= fr_hits
              AND de_hits >= es_hits AND de_hits > 0 THEN 'de'
             WHEN fr_hits >= en_hits AND fr_hits >= de_hits
              AND fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
             WHEN es_hits >= en_hits AND es_hits >= de_hits
              AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
             ELSE 'unknown' END AS lang
           FROM h)
         SELECT 'n_docs' AS metric, count(*) AS value FROM l
         UNION ALL SELECT 'n_sources',
           CAST(count(DISTINCT source) AS BIGINT) FROM l
         UNION ALL SELECT 'total_tokens',
           CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM l
         UNION ALL SELECT 'total_chars',
           CAST(coalesce(sum(chars), 0) AS BIGINT) FROM l
         UNION ALL SELECT 'n_distinct_texts',
           CAST(count(DISTINCT fp) AS BIGINT) FROM l
         UNION ALL SELECT 'n_empty_docs',
           count(*) FILTER (WHERE ntok = 0) FROM l
         UNION ALL SELECT 'n_docs_en',
           count(*) FILTER (WHERE lang = 'en') FROM l
         UNION ALL SELECT 'n_docs_de',
           count(*) FILTER (WHERE lang = 'de') FROM l
         UNION ALL SELECT 'n_docs_fr',
           count(*) FILTER (WHERE lang = 'fr') FROM l
         UNION ALL SELECT 'n_docs_es',
           count(*) FILTER (WHERE lang = 'es') FROM l
         UNION ALL SELECT 'n_docs_unknown',
           count(*) FILTER (WHERE lang = 'unknown') FROM l""") { (s, d) =>
      graft.text.TextOps.corpusCard(
        t("documents")(s, d), "source", "text")
    },

    // ---- numeric-column drift (PSI over fixed value bands): price
    //      distribution of early vs late shipments — the standard
    //      model-monitoring drift score, banded so it is two hash
    //      aggregates and never a global sort; every band term
    //      oracle-replayed ----
    // replays Drift.psiBands: same band arithmetic (exact edges —
    // 2-dp prices sit ≥ 4e-6 band-widths from every 2500-multiple, so
    // floor cannot flip cross-engine), same add-1 smoothing over the
    // 51-cell grid, same single-ln 9-dp-rounded term
    QueryDef("q_numeric_drift",
      """WITH t AS (
           SELECT l_extendedprice AS v,
             l_shipdate < TIMESTAMP '1995-01-01' AS a
           FROM lineitem),
         bands AS (SELECT unnest(range(-1, 50)) AS band),
         c AS (SELECT
             CASE WHEN v IS NULL THEN 49
                  WHEN v < 0.0 THEN -1
                  WHEN v >= 120000.0 THEN 48
                  ELSE CAST(floor((v - 0.0) / 2500.0) AS INTEGER)
             END AS band, a
           FROM t),
         g AS (SELECT band,
             count(*) FILTER (WHERE a) AS c_a,
             count(*) FILTER (WHERE NOT a) AS c_b
           FROM c GROUP BY band),
         j AS (SELECT bands.band,
             COALESCE(g.c_a, 0) AS c_a, COALESCE(g.c_b, 0) AS c_b
           FROM bands LEFT JOIN g ON g.band = bands.band),
         tot AS (SELECT sum(c_a) AS na, sum(c_b) AS nb FROM j),
         p AS (SELECT j.band, j.c_a, j.c_b,
             (j.c_a + CAST(1 AS DOUBLE)) / (tot.na + 51.0) AS p_a,
             (j.c_b + CAST(1 AS DOUBLE)) / (tot.nb + 51.0) AS p_b
           FROM j CROSS JOIN tot)
         SELECT CAST(band AS INTEGER) AS band,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           p_a, p_b,
           round((p_a - p_b) * ln(p_a / p_b), 9) AS psi_term
         FROM p""") { (s, d) =>
      val li = t("lineitem")(s, d)
      val cut = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
      graft.text.Drift.psiBands(
        li.filter(col("l_shipdate") < lit(cut)),
        li.filter(col("l_shipdate") >= lit(cut)),
        col("l_extendedprice"), lo = 0.0, hi = 120000.0, nBands = 48)
    },

    // ---- exact substring dedup (Lee et al. 2022 ExactSubstr at
    //      8-token granularity): any 8-token window recurring anywhere
    //      in the corpus is cut from every occurrence but the globally
    //      first (occurrences overlapping the kept window in the same
    //      doc are spared, so periodic text keeps one intact copy);
    //      overlapping windows coalesce into maximal spans; row count
    //      stays = |documents| ----
    // replays substringDedup on window TEXT (the Spark side keys on
    // xxhash64 of the same text — equal modulo 64-bit collisions):
    // k-token windows in position order, row_number over (doc, pos)
    // per window marks every instance after the global first, covered
    // positions union via range expansion, survivors reassemble with
    // single-space joins; docs with < 8 tokens have no window and pass
    // through (whitespace-normalized like the Spark side)
    QueryDef("q_substring_dedup",
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS arr
           FROM documents),
         grams AS (
           SELECT doc_id,
             unnest(range(len(arr) - 8 + 1)) AS pos,
             unnest(list_transform(range(len(arr) - 8 + 1),
               p -> array_to_string(arr[p+1:p+8], ' '))) AS gram
           FROM d WHERE len(arr) >= 8),
         marked AS (
           SELECT doc_id, pos,
             first_value(doc_id) OVER w AS own_doc,
             first_value(pos) OVER w AS own_pos
           FROM grams
           WINDOW w AS (PARTITION BY gram ORDER BY doc_id, pos)),
         removed AS (
           -- cut unless owner or overlapping the owner's kept window
           -- in the same doc (the self-overlap rule; owner => overlap)
           SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS rp
           FROM marked
           WHERE NOT (doc_id = own_doc AND pos < own_pos + 8)),
         toks AS (
           SELECT doc_id, unnest(arr) AS tok,
             unnest(range(len(arr))) AS pos
           FROM d),
         kept AS (
           SELECT t.doc_id, t.pos, t.tok
           FROM toks t LEFT JOIN removed r
             ON t.doc_id = r.doc_id AND t.pos = r.rp
           WHERE r.rp IS NULL),
         re AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS dedup_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(re.dedup_text, '') AS dedup_text,
           CAST(len(d.arr) - coalesce(re.n_kept, 0) AS INTEGER)
             AS n_removed_tokens
         FROM d LEFT JOIN re ON d.doc_id = re.doc_id""") { (s, d) =>
      graft.dedup.Dedup.substringDedup(
        t("documents")(s, d), "doc_id", "text", k = 8)
    },

    // ---- incremental substring dedup: the cross-corpus form — cut
    //      from the batch every 8-token window already present in the
    //      stored corpus's anchor index (corpus always wins); same
    //      batch/corpus split as q_dedup_incremental ----
    // cross-corpus replay on window TEXT: the corpus side contributes
    // only its DISTINCT grams; batch windows present there are cut
    // (membership, no ownership ranking — the corpus always wins)
    QueryDef("q_substring_dedup_incremental",
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS arr
           FROM documents),
         corpus_grams AS (
           SELECT DISTINCT
             unnest(list_transform(range(len(arr) - 8 + 1),
               p -> array_to_string(arr[p+1:p+8], ' '))) AS gram
           FROM d WHERE doc_id % 5 = 0 AND len(arr) >= 8),
         b AS (SELECT doc_id, arr FROM d WHERE doc_id % 5 <> 0),
         grams AS (
           SELECT doc_id,
             unnest(range(len(arr) - 8 + 1)) AS pos,
             unnest(list_transform(range(len(arr) - 8 + 1),
               p -> array_to_string(arr[p+1:p+8], ' '))) AS gram
           FROM b WHERE len(arr) >= 8),
         removed AS (
           SELECT DISTINCT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS rp
           FROM grams g JOIN corpus_grams cg ON g.gram = cg.gram),
         toks AS (
           SELECT doc_id, unnest(arr) AS tok,
             unnest(range(len(arr))) AS pos
           FROM b),
         kept AS (
           SELECT t.doc_id, t.pos, t.tok
           FROM toks t LEFT JOIN removed r
             ON t.doc_id = r.doc_id AND t.pos = r.rp
           WHERE r.rp IS NULL),
         re AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS dedup_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id,
           coalesce(re.dedup_text, '') AS dedup_text,
           CAST(len(b.arr) - coalesce(re.n_kept, 0) AS INTEGER)
             AS n_removed_tokens
         FROM b LEFT JOIN re ON b.doc_id = re.doc_id""") { (s, d) =>
      val docs = t("documents")(s, d)
      val anchors = graft.dedup.Dedup.substringAnchorIndex(
        docs.filter(col("doc_id") % 5 === 0), "text", k = 8)
      graft.dedup.Dedup.substringDedupAgainstCorpus(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", anchors,
        k = 8)
    },

    // ---- sequence packing: greedy fill of 256-token context windows
    //      within 8 deterministic pack buckets — the padding-free
    //      pretraining batch layout; parallel across buckets, native
    //      linear PackWindows fold within one ----
    // greedy 256-token window fill within doc_id%8 buckets, fill order
    // = doc_id ascending; the recursive CTE replays the same fold the
    // native PackWindows expression runs (first doc never rolls; an
    // oversize doc occupies a window alone)
    QueryDef("q_pack_sequences",
      """WITH RECURSIVE t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n_tokens,
           CAST(doc_id % 8 AS BIGINT) AS bucket FROM documents),
         o AS (SELECT doc_id, n_tokens, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) rn
           FROM t),
         packed AS (
           SELECT doc_id, n_tokens, bucket, rn,
             CAST(0 AS BIGINT) AS win, n_tokens AS fill
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.doc_id, o.n_tokens, o.bucket, o.rn,
             CASE WHEN p.fill + o.n_tokens > 256
               THEN p.win + 1 ELSE p.win END,
             CASE WHEN p.fill + o.n_tokens > 256
               THEN o.n_tokens ELSE p.fill + o.n_tokens END
           FROM packed p
           JOIN o ON o.bucket = p.bucket AND o.rn = p.rn + 1)
         SELECT doc_id, n_tokens, bucket, win AS win_idx FROM packed""") { (s, d) =>
      graft.ops.Packing.packSequences(
        t("documents")(s, d), "doc_id", "text",
        capacity = 256L, buckets = 8)
    },

    // ---- chunk→pack composition: split documents into 32-token
    //      non-overlapping chunks, then greedily pack the chunks into
    //      128-token windows — the realistic pretraining layout
    //      (long docs split, short ones packed; zero padding between).
    //      chunk_id = doc_id·100 + chunk_idx keeps the fill order
    //      deterministic and engine-portable ----
    // chunks = ceil(n/32) aligned windows per doc (≥1 even for empty
    // docs, chunk 0 always exists), chunk token count = least(32,
    // n - 32i); then the same greedy recursive fill at capacity 128
    QueryDef("q_pack_chunks",
      """WITH RECURSIVE t AS (SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) n
           FROM documents),
         c AS (SELECT doc_id * 100 + i AS chunk_id,
             least(CAST(32 AS BIGINT), n - i * 32) AS n_tokens
           FROM t, LATERAL unnest([x for x in
             range(0, greatest(CAST(1 AS BIGINT),
               CAST(ceil(n / 32.0) AS BIGINT)))]) AS u(i)),
         o AS (SELECT chunk_id, n_tokens,
             CAST(chunk_id % 8 AS BIGINT) AS bucket,
             row_number() OVER (PARTITION BY chunk_id % 8
               ORDER BY chunk_id) rn
           FROM c),
         packed AS (
           SELECT chunk_id, n_tokens, bucket, rn,
             CAST(0 AS BIGINT) AS win, n_tokens AS fill
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.chunk_id, o.n_tokens, o.bucket, o.rn,
             CASE WHEN p.fill + o.n_tokens > 128
               THEN p.win + 1 ELSE p.win END,
             CASE WHEN p.fill + o.n_tokens > 128
               THEN o.n_tokens ELSE p.fill + o.n_tokens END
           FROM packed p
           JOIN o ON o.bucket = p.bucket AND o.rn = p.rn + 1)
         SELECT chunk_id, n_tokens, bucket, win AS win_idx FROM packed""") { (s, d) =>
      val chunks = graft.text.TextOps.chunkTokens(
        t("documents")(s, d), "doc_id", "text",
        chunkSize = 32, overlap = 0)
        .select((col("doc_id") * 100 + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      graft.ops.Packing.packSequences(
        chunks, "chunk_id", "chunk_text", capacity = 128L, buckets = 8)
        .withColumnRenamed("doc_id", "chunk_id")
    },

    // ---- corpus frequency analysis: top-k word trigrams (boilerplate
    //      detection); native one-pass ShingleStrings (the HOF
    //      `shingles()` form re-ran the tokenizing regex once per
    //      window — 3.3 s of this query's 4.0 s at sf0.1); the
    //      map-side partial agg dedups per partition before the
    //      shuffle and the top-k plans as TakeOrderedAndProject.
    //      (A two-pass hash-agg variant — count on xxhash64, join the
    //      winners' strings back — was measured 1.3× SLOWER at sf0.1:
    //      re-shingling the corpus costs more than the string shuffle
    //      it saves.) ----
    // distinct-per-doc trigrams (matching shingles()' array_distinct),
    // counted across docs
    QueryDef("q_top_ngrams",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) AS ngram FROM g)
         SELECT ngram, count(*) AS n_docs FROM e
         GROUP BY ngram ORDER BY n_docs DESC, ngram ASC LIMIT 20""") { (s, d) =>
      t("documents")(s, d)
        .select(explode(
          graft.functions.GraftFunctions.shingleStrings(col("text"), 3))
          .as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("ngram").asc)
        .limit(20)
    },

    // ---- winnowing partial-overlap pairs (oracle-checked: the
    //      fingerprint sets replay in DuckDB via the winnowMinsCte
    //      hash fold; shared-passage guarantee proven in DedupSpec) ----
    QueryDef("q_doc_winnow_overlap",
      (winnowMinsCte + """,
         fp AS (SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM mins)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS shared_fp
         FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 1""")) { (s, d) =>
      graft.dedup.Dedup.winnowOverlapPairs(
        t("documents")(s, d), "doc_id", "text")
    },

    // ---- winnowing fingerprint sets (oracle-checked: the k=25/w=50
    //      rolling-hash minima replay bit-exactly in DuckDB —
    //      winnowMinsCte; shared-substring guarantee in TextOpsSpec) ----
    // winnowing replayed exactly (VERDICT r9 #6): the k=25 rolling
    // hash is a plain polynomial in B=1000000007 over the UTF-8 bytes
    // mod 2^64 — a list_reduce fold in HUGEINT, re-signed to BIGINT
    // for the window minima (the corpus is ASCII, so ord(char) IS the
    // byte; a non-ASCII corpus would need a BLOB byte walk). Window
    // mins replay the w=50 slide directly; short docs collapse to the
    // global min and ≤k-byte docs to the single whole-string gram,
    // mirroring Winnow.gramHashes/windowMins edge cases.
    QueryDef("q_doc_winnow",
      (winnowMinsCte + """
         SELECT doc_id, CAST(len(list_distinct(ms)) AS INTEGER)
           AS n_fingerprints
         FROM mins""")) { (s, d) =>
      import graft.text.TextOps._
      t("documents")(s, d).select(
        col("doc_id"),
        size(winnowFingerprints(col("text"))).as("n_fingerprints"))
    },

    // ---- exact n-gram Jaccard near-dup pairs (oracle for MinHash).
    //      Intrinsically quadratic in hot-shingle corpora (the r10
    //      10× sweep measured exponent 1.98): every pair of docs
    //      sharing any shingle meets the join. This direct form is
    //      the verification twin; the certified scale-shaped exact
    //      form is q_ngram_jaccard_prefix below, the production
    //      near-dup path is MinHash LSH (q_minhash_lsh) ----
    QueryDef("q_ngram_jaccard_pairs", ngramJaccardPairsSql) { (s, d) =>
      graft.dedup.Dedup.ngramJaccardPairs(
        t("documents")(s, d), "doc_id", "text", 3, 0.8)
    },

    // ---- PPJoin prefix-filtered EXACT Jaccard: identical output
    //      (shares the direct form's oracle SQL verbatim — the
    //      q_bm25_search_indexed precedent), but candidates come only
    //      from the rarest ceil((1-t)·|sh|)+1 shingles of each doc,
    //      so hot boilerplate shingles outside the prefix never
    //      enumerate pairs — the exact-similarity form that survives
    //      a hot-shingle corpus (10× sweep: 9.1× vs the direct
    //      form's 95× at 10× data) ----
    QueryDef("q_ngram_jaccard_prefix", ngramJaccardPairsSql) { (s, d) =>
      graft.dedup.Dedup.ngramJaccardPairsPrefix(
        t("documents")(s, d), "doc_id", "text", 3, 0.8)
    },

    // ---- MinHash+LSH near-dup with exact verification: banding
    //      proposes candidates, true Jaccard filters them, so the
    //      output is oracle-checkable against the all-pairs ground
    //      truth (miss probability (1-0.8²)³² ≈ 6e-15 per true pair) ----
    // identical SQL to q_ngram_jaccard_pairs by construction: LSH
    // banding only prunes candidates, the emitted jaccard is exact
    QueryDef("q_minhash_lsh",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g)
         SELECT p.doc_a, p.doc_b,
           round(CAST(p.common AS DOUBLE)
             / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE), 6) AS jaccard
         FROM p
         JOIN sz la ON la.doc_id = p.doc_a
         JOIN sz lb ON lb.doc_id = p.doc_b
         WHERE CAST(p.common AS DOUBLE)
             / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8""") { (s, d) =>
      graft.dedup.Dedup.minhashLshVerified(t("documents")(s, d), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    },

    // ---- MinHash estimate-only LSH (oracle-checked: xxhash64
    //      replayed in DuckDB — OracleXxh64 — then the 64 universal
    //      hashes, slice-equality banding, and agreement fraction
    //      are exact integer SQL; recall vs exact ground truth is
    //      additionally floored in RECALL.json) ----
    // xxhash64 replayed in DuckDB (OracleXxh64) makes the LSH
    // estimate and SimHash queries hash-checkable end to end
    QueryDef("q_minhash_est", OracleXxh64.minhashEstSql) { (s, d) =>
      graft.dedup.Dedup.minhashLsh(t("documents")(s, d), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    },

    // ---- near-dup clustering: connected components over the verified
    //      ≥0.8-Jaccard pairs; cluster_id = min reachable doc_id, the
    //      canonical representative for corpus collapsing ----
    // transitive closure over the same ≥0.8 exact-Jaccard pair
    // derivation; cluster_id = min reachable doc_id
    QueryDef("q_doc_neardup_clusters",
      """WITH RECURSIVE t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g),
         pp AS (SELECT p.doc_a, p.doc_b FROM p
                JOIN sz la ON la.doc_id = p.doc_a
                JOIN sz lb ON lb.doc_id = p.doc_b
                WHERE CAST(p.common AS DOUBLE)
                  / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pp
                   UNION SELECT doc_b, doc_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a)
         SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""") { (s, d) =>
      graft.dedup.Dedup.nearDupClusters(
        graft.dedup.Dedup.minhashLshVerified(
          t("documents")(s, d), "doc_id", "text").select("doc_a", "doc_b"))
    },

    // ---- the end-to-end dedup semantic: corpus minus every non-
    //      canonical member of a ≥0.8-Jaccard near-dup cluster ----
    // corpus minus non-canonical cluster members, over the same
    // recursive transitive closure as q_doc_neardup_clusters
    QueryDef("q_dedup_corpus",
      """WITH RECURSIVE t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g),
         pp AS (SELECT p.doc_a, p.doc_b FROM p
                JOIN sz la ON la.doc_id = p.doc_a
                JOIN sz lb ON lb.doc_id = p.doc_b
                WHERE CAST(p.common AS DOUBLE)
                  / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pp
                   UNION SELECT doc_b, doc_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         SELECT d.doc_id FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM cl
           WHERE cl.doc_id = d.doc_id AND cl.cluster_id <> cl.doc_id)""") { (s, d) =>
      graft.dedup.Dedup.dedupCorpus(t("documents")(s, d), "doc_id", "text")
        .select("doc_id")
    },

    // ---- quality-aware variant: per near-dup cluster keep the
    //      LONGEST member (the C4/RefinedWeb rule), ties → min id ----
    // same cluster derivation; representative = the member with max
    // n_chars (min doc_id among ties) instead of min doc_id. The
    // max-equality compare is on the UNCOMPUTED n_chars column, so
    // double discipline is not in play.
    QueryDef("q_dedup_corpus_best",
      """WITH RECURSIVE t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
               FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, len(sh) n_sh FROM g),
         pp AS (SELECT p.doc_a, p.doc_b FROM p
                JOIN sz la ON la.doc_id = p.doc_a
                JOIN sz lb ON lb.doc_id = p.doc_b
                WHERE CAST(p.common AS DOUBLE)
                  / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pp
                   UNION SELECT doc_b, doc_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         -- COALESCE to -infinity replays the Scala NULL-loses rule: a
         -- cluster whose members are ALL null-scored must still elect
         -- its min-id winner (a bare max(n_chars)=NULL would match no
         -- one and keep the whole cluster)
         m AS (SELECT cl.doc_id, cl.cluster_id,
                 COALESCE(CAST(d.n_chars AS DOUBLE),
                   CAST('-infinity' AS DOUBLE)) AS k
               FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
         best AS (SELECT cluster_id, max(k) AS mx FROM m GROUP BY 1),
         win AS (SELECT m.cluster_id, min(m.doc_id) AS winner
                 FROM m JOIN best ON m.cluster_id = best.cluster_id
                   AND m.k = best.mx
                 GROUP BY 1),
         losers AS (SELECT m.doc_id FROM m
                    JOIN win ON m.cluster_id = win.cluster_id
                    WHERE m.doc_id <> win.winner)
         SELECT d.doc_id, d.n_chars FROM documents d
         WHERE NOT EXISTS (SELECT 1 FROM losers
           WHERE losers.doc_id = d.doc_id)""") { (s, d) =>
      graft.dedup.Dedup.dedupCorpus(t("documents")(s, d), "doc_id", "text",
          keepBy = Some(col("n_chars")))
        .select("doc_id", "n_chars")
    },

    // ---- SimHash near-dup pairs (oracle-checked: the xxhash64
    //      shingle hashes replay in DuckDB via OracleXxh64, the bit
    //      votes and Hamming filter are plain SQL, and the 8x8-bit
    //      chunk banding is pigeonhole-exact at maxDist 7) ----
    QueryDef("q_simhash_pairs", OracleXxh64.simhashPairsSql) { (s, d) =>
      graft.dedup.Dedup.simhashPairs(t("documents")(s, d), "doc_id", "text", 7)
    },

    // ---- brute-force cosine KNN ----
    // norm > 0 on both sides mirrors the operator's zero-vector guard
    QueryDef("q_knn_bruteforce",
      """WITH e0 AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         e AS (SELECT vec_id, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id,
             round(
               list_reduce(list_transform(list_zip(q.qv, e.v),
                 p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                    (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(e.v, x -> x * x),
                    (acc, x) -> acc + x))), 4) AS score
           FROM e, q WHERE e.vec_id <> q.query_id)
         SELECT query_id, vec_id, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id) AS rank
           FROM scored)
         WHERE rank <= 10""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.similarity.Knn.bruteForceKnn(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        10)
    },

    // ---- SQ8 scalar-quantized KNN: per-dimension linear int8 codes
    //      (corpus at 1/4 the float32 bytes), exact top-k by squared
    //      L2 over the codes — all-integer distances, so the oracle
    //      recomputes quantization + ranking to hash equality ----
    // quantization recomputed from scratch: per-dim float min/max are
    // exact under the double cast, and code = clamp(floor((x-mn)*s))
    // is one subtract + one multiply + one floor — IEEE-identical in
    // both engines, so codes (and the integer distances) match
    // bit-for-bit. MATERIALIZED: the code table is referenced twice.
    QueryDef("q_knn_sq8",
      """WITH ex AS MATERIALIZED (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         b AS MATERIALIZED (
           SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         c AS MATERIALIZED (
           SELECT vec_id, ex.i,
             least(255, greatest(0, CASE WHEN mx > mn
               THEN CAST(floor((x - mn) * (256.0 / (mx - mn))) AS BIGINT)
               ELSE 0 END)) AS code
           FROM ex JOIN b ON ex.i = b.i),
         d AS MATERIALIZED (
           SELECT q.vec_id AS query_id, c.vec_id,
             CAST(sum((q.code - c.code) * (q.code - c.code)) AS BIGINT)
               AS dist
           FROM c q JOIN c ON q.i = c.i
             AND q.vec_id < 5 AND c.vec_id <> q.vec_id
           GROUP BY 1, 2)
         SELECT query_id, vec_id, dist, rank FROM (
           SELECT query_id, vec_id, dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist, vec_id) AS rank
           FROM d)
         WHERE rank <= 10""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.similarity.Knn.sq8Knn(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        10)
    },

    // ---- contrastive hard-negative mining: per query vector, the
    //      10 most-similar corpus vectors of a DIFFERENT label —
    //      positives (same-label pairs) excluded BEFORE ranking so
    //      the top-k cannot under-fill; brute-force twin here, the
    //      IVF/LSH candidate path composes via hardNegativesFrom ----
    // the positives anti-join (same-label pairs) becomes a label
    // inequality on the scored cross join — exclusion BEFORE ranking,
    // mirroring Mining.hardNegatives
    QueryDef("q_hard_negatives",
      """WITH e0 AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         e AS (SELECT vec_id, label, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         q AS (SELECT vec_id AS query_id, label AS ql, v AS qv
           FROM e WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id,
             round(
               list_reduce(list_transform(list_zip(q.qv, e.v),
                 p -> p[1] * p[2]), (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(q.qv, x -> x * x),
                    (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(e.v, x -> x * x),
                    (acc, x) -> acc + x))), 4) AS score
           FROM e, q
           WHERE e.vec_id <> q.query_id AND e.label <> q.ql)
         SELECT query_id, rank, vec_id, score FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id) AS INTEGER) AS rank
           FROM scored)
         WHERE rank <= 10""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      val q = emb.filter(col("vec_id") < 5)
      val positives = q
        .select(col("vec_id").as("query_id"), col("label").as("ql"))
        .join(emb.select(col("vec_id"), col("label")),
          col("label") === col("ql"))
        .select(col("query_id"), col("vec_id"))
      graft.similarity.Mining.hardNegatives(
        q.select(col("vec_id").as("query_id"),
          col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        positives, 10)
    },

    // ---- LSH-bucketed ANN (oracle-checked: OracleAnn replays the
    //      fixed-seed hyperplane signatures, Hamming-1 multiprobe and
    //      exact rerank in DuckDB; recall floor kept in RECALL.json) ----
    // the ANN surface replayed in DuckDB (OracleAnn): fixed-seed
    // hyperplanes inlined from the engine's own plane generator,
    // the driver-path spherical k-means unrolled iteration by
    // iteration with the JVM's exact fold orders — approximate
    // operators, deterministic functions, hash-checkable
    QueryDef("q_knn_lsh", OracleAnn.knnLshSql) { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.similarity.Knn.lshKnn(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        64, 10)
    },

    // ---- IVF ANN: trained coarse quantizer + nprobe cell search
    //      (oracle-checked: OracleAnn unrolls the driver-path spherical
    //      k-means and replays probe + rerank; recall in RECALL.json) ----
    QueryDef("q_knn_ivf", OracleAnn.knnIvfSql) { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.similarity.Ivf.ivfKnn(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        64, 10, nlist = 16, nprobe = 4)
    },

    // ---- IVF-PQ ANN: product-quantized codes (m=8 ints per vector
    //      instead of 64 doubles) ranked by asymmetric distance —
    //      the memory-bound scale path (oracle-checked: OracleAnn
    //      replays coarse + per-subspace PQ training, encode and ADC
    //      bit-exactly; recall floor 0.6 kept in RECALL.json) ----
    QueryDef("q_knn_ivfpq", OracleAnn.ivfPqSql) { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.similarity.Ivf.ivfPqKnn(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("vector")),
        emb.select(col("vec_id"), col("embedding").as("vector")),
        64, 10, nlist = 16, nprobe = 8, m = 16, ksub = 32)
    },

    // ---- deterministic k-means clustering (exact-decimal Lloyd's):
    //      content-addressed seeds, fixed 5 iterations, assignments
    //      bit-identical on any layout — purity vs the embeddings
    //      label column is floor-asserted in RECALL.json, the full
    //      assignment pinned by an sf0.01 golden ----
    // q_doc_bpe_apply precedent: a bounded deterministic learned table
    // (here the 10x64 centroid matrix, itself pinned by the
    // q_kmeans_assign golden) may be inlined as VALUES — the
    // correctness gate always runs at sf0.01, the scale it was
    // trained at. The replay mirrors ArgTopCells exactly: dot =
    // (ordered sum over dims of v_j*c_j) + bias added LAST, bias =
    // -0.5 * ordered sum of c_j^2, ties to the LARGER cluster index
    // (ORDER BY dot DESC, cluster DESC). Ordered double sums match the
    // JVM's sequential fold bit-for-bit (the q_temperature_mix rule).
    QueryDef("q_kmeans_assign",
      """WITH cen(cluster, w) AS (VALUES
             (0, [0.027674780953428575e0, 0.03091342489164286e0, -0.05425491070909524e0, 0.028569055477214285e0, 0.01330180334797619e0, 0.06556863425342857e0, -0.023533889829904762e0, -0.003358426379095238e0, -0.060944316354309525e0, -0.005714051303595238e0, 0.027374715849071425e0, 0.046876268073357145e0, 0.07559927163780952e0, -0.04968642604183333e0, 0.015850797772285714e0, -0.05741506772338095e0, -0.010644343155e0, -0.0034804160795238095e0, 0.005209908355071428e0, -0.03927501779980952e0, 0.01270190128157143e0, 7.749966781190476E-4, -0.09068885632135715e0, 0.0019329549478809523e0, 0.05188305719221428e0, 0.07403609136645238e0, 0.011989027766214286e0, 0.013008683820142858e0, -0.013990043740166666e0, 0.0507574122e0, -0.017426749380952383e0, -0.015226893232285715e0, 0.0650592514402381e0, 0.006728623400500001e0, -0.03955031970202381e0, 0.02704768862921429e0, -0.022752619259785715e0, -0.034479180813809525e0, 0.041107317449357146e0, -0.11004232903492857e0, 0.007835500590880952e0, -0.06229920852154761e0, -0.06479744324483334e0, -0.06339737875090476e0, 0.021362085139357143e0, 0.007071135320333334e0, -0.039501819820571424e0, -0.005030805710714285e0, -0.010159178021642857e0, -0.11378086995819048e0, 0.004779457253285714e0, -0.04020452098723809e0, -0.005520906221738096e0, -0.002996664050785714e0, -0.031589151509785716e0, -0.012670741682666667e0, 0.052304353986309525e0, 0.015611940102309525e0, 0.03239217198766667e0, -0.0012503592741190475e0, 0.016973104571880955e0, -0.013009250820999999e0, -0.06648277051242857e0, -0.016330139107261905e0]),
             (1, [-0.038166633869244446e0, 0.03067005561251111e0, 0.010583489396022223e0, 0.0029877184838888893e0, -0.005169629812688889e0, 0.03458634790082222e0, 0.030428785799733335e0, 0.06351999425742222e0, -0.024965531787733333e0, -0.006372045684222222e0, -0.01648438716202222e0, -0.034518085413688886e0, -0.026252220395088885e0, -0.019687421987288886e0, -0.032905850031711106e0, -0.014616721723666666e0, 0.022032980124266667e0, -0.06757711110022223e0, -0.04324904715431111e0, 0.04649606311388889e0, -0.07973349312731111e0, -0.026106769456933333e0, -0.018373362864844443e0, -0.013286735588177776e0, -0.0021417347206666667e0, 0.021108181587155554e0, -0.010170353638644445e0, -0.002725964976111111e0, -0.0024928104572222226e0, -0.044244967284555556e0, 0.05365292892484445e0, -0.014370618465733334e0, 0.05850423654128889e0, 0.007971172227466667e0, 0.04926679628997777e0, 0.024346515639866666e0, -0.022830609785800003e0, 0.03973525014388889e0, -0.025404646112933336e0, 0.06421543315784445e0, -0.06301187475522221e0, -0.0049093091861111115e0, -0.05315571233837778e0, -0.009837308977377777e0, -0.03793778707171111e0, 0.006195884404866667e0, -0.057202432620222225e0, 0.032912642964133335e0, 9.006139589555555E-4, 0.016739674285044446e0, 0.059134115899555556e0, 6.49991722E-4, -0.01240634845268889e0, 0.007610934351933333e0, 0.037298831193577776e0, -0.04855998112144444e0, 0.037869660069955555e0, 0.038638851587177774e0, 0.015467409631111111e0, -0.04986123825528889e0, -0.040021721770333335e0, -0.026423373707222222e0, -0.01379556970468889e0, -0.047123703650244445e0]),
             (2, [0.03415851351224528e0, -0.004847747119962264e0, 0.03220419663684906e0, 0.014508253626792453e0, 0.00598064322854717e0, 0.07129816896388678e0, -0.007477937849679246e0, -0.0036959699685094336e0, -0.013402886109943396e0, 0.061054175563660384e0, 0.026646607643301887e0, 0.08741019777781132e0, -0.00999024956054717e0, 0.02240438705726415e0, -0.003171774575792453e0, 0.036126182064226416e0, 0.0166718171984717e0, 0.006204123074981132e0, -0.03668064959696226e0, -0.039711950203509434e0, -0.02653353924009434e0, -0.016499174271188678e0, 0.002946391785169811e0, 0.02270586514090566e0, 0.004281470360962264e0, -0.015494462190547169e0, -0.019294742814415095e0, 0.01328877437001887e0, 0.0925807600845283e0, -0.020497406951509433e0, 0.07665634202939622e0, -0.047643718999415094e0, -0.01027755031609434e0, -0.021742176987150943e0, -0.010875031554132076e0, -0.015772623673339623e0, -0.007442205538113207e0, -0.04398322922079245e0, -0.005832425931547171e0, 0.00442507231764151e0, -0.007093982665584905e0, 0.01397018593228302e0, 0.04731585322181132e0, -0.020921281834301888e0, -0.006093918293113208e0, -0.028407448599603775e0, -0.0012617661597924528e0, 0.0690435327695283e0, 0.012787900856245283e0, 0.023215203168245283e0, -0.010690661459132075e0, 0.004257316648358491e0, 0.017522599758981135e0, -0.019037033062207546e0, 0.0174994357545283e0, 0.06202041517224528e0, -0.03931530432798113e0, 0.012240452075264151e0, -0.08691992945437736e0, -0.0709352766068868e0, -0.0031789889707547173e0, -0.007866965316849057e0, 0.015122794458301888e0, -0.01079346272509434e0]),
             (3, [0.010795183643148937e0, -0.003729222491042553e0, 0.005121361939851064e0, 0.0073545194885106385e0, 0.06624087386151063e0, 0.011330983601489363e0, -0.02514298706548936e0, 0.004577936238021277e0, 5.8809508361702125E-5, 9.691692056170212E-4, 0.06283417032004256e0, 0.021536759421659574e0, -0.05417060244212766e0, 0.017943709672638298e0, 0.03308129683142553e0, 0.0013842265507659575e0, -0.0034169630999361703e0, -0.011982261813829788e0, 0.008966372873446808e0, 0.00979661876138298e0, 0.030031136795659573e0, -0.01614922838919149e0, -0.03577032136395745e0, 0.05874746162046809e0, -0.035228908802617025e0, -0.012682743172446808e0, 0.0239964352346383e0, 0.02327823610680851e0, -0.019041912536085105e0, 0.02474765315338298e0, -0.025722393790787234e0, -0.04534833130751064e0, 0.004485996846255319e0, -4.306389217021276E-4, 0.02987669253506383e0, -0.05196040558780851e0, 0.018811771358787234e0, 0.08066029684925531e0, -0.010032892098361702e0, 0.011056627310468086e0, -0.07230066815680851e0, -0.023339241921404255e0, -0.012444076544404256e0, 0.032055853497042555e0, -1.558548203829787E-4, -0.034063551411404255e0, 0.02671393241357447e0, -0.024334632811404255e0, 0.046950337285106385e0, -0.04262977745880851e0, 0.07250405850502127e0, -0.009724956139574468e0, -0.0487444906772766e0, -0.027401291007361703e0, -0.0109111782103617e0, 0.040913325486787236e0, 0.012852892789851062e0, 0.0446649699056383e0, 0.01126086465031915e0, 0.03786318482178724e0, 0.08217493454580851e0, -0.02180441326280851e0, -0.01028094621019149e0, 0.06510742842782978e0]),
             (4, [-0.020486721394391304e0, 0.06126691094271739e0, -0.03264436371741304e0, -0.035922675365695655e0, -0.004788062641456522e0, -0.0015296354666304347e0, -0.023874066980173914e0, -0.04731957011082609e0, -1.1025921415217392E-4, -0.06738002294845652e0, -0.04787401351880435e0, 0.011883591387804347e0, 0.004621799613978261e0, 0.050726767339565215e0, -0.02570319145845652e0, 0.021561874937195653e0, 0.04611991676904347e0, 0.021781449773086957e0, 0.03185528672158695e0, -0.009423260172065217e0, 0.04147438473154348e0, -0.0026251431351956523e0, 0.06271235769343478e0, -0.07673421731402173e0, 0.06549240710497826e0, -0.03159330234582609e0, -0.00989918625071739e0, -0.024076349542260872e0, -0.06533972266554348e0, -0.017178070690934782e0, -0.022455780594847825e0, 0.025826823047369562e0, -0.04584442573073913e0, -0.04456712228606522e0, -0.05052233418034782e0, -0.01854128462430435e0, 0.06181345237726087e0, 0.025632077842891305e0, 0.018620082976956522e0, -0.047754847808999995e0, 0.009901714680760869e0, 0.05103250964143478e0, -0.036162153129413045e0, -0.04150007992128261e0, 0.01741220970873913e0, 0.009034205698804348e0, 0.04731597999395652e0, -0.005194464024065217e0, -0.03561144126780435e0, -0.0346474401835e0, -0.022033395400065218e0, 0.007900501014239131e0, -0.01697370371752174e0, 0.006753598420826087e0, 0.037613784347673915e0, -0.055780046113326084e0, -0.004759372156326087e0, 0.020828436498260872e0, -0.04772413015980435e0, 0.008980059145934782e0, -9.703518438695653E-4, 0.007900760331934781e0, 0.05868550333306522e0, 0.00630836021e0]),
             (5, [-0.04434690434486e0, -0.08117959820670001e0, 0.012254382963299998e0, 0.00538136059414e0, 0.04476336588154e0, 0.0016260420182e0, -0.06364761736702e0, 0.00976751565936e0, 0.017580664372079998e0, 0.01902678760466e0, -0.049899933787480005e0, -1.0874427391999999E-4, -0.0033520722947999997e0, -0.05419328236252e0, 0.02065216876098e0, 0.01940723998472e0, -0.02268904210766e0, -0.04035405145028e0, 0.03056599613276e0, -0.03264655236618e0, 0.03285514864136e0, 0.02646281568338e0, 0.03241793034368e0, -0.02394179818686e0, -0.01548460696818e0, 0.09979551545464e0, 0.03839666712858e0, -0.02191411100326e0, -0.005701861390900001e0, -0.06758689627976e0, 0.023188628633500002e0, 0.0409783301537e0, 0.02553606608984e0, -0.036922382740319996e0, 0.03645075949256e0, -0.10248972183090001e0, -0.0227935889875e0, -0.02137675860014e0, 0.006448867809960001e0, 9.631311125E-4, 0.0072766102012400006e0, -0.0296696674521e0, -0.00745370153806e0, 0.0198828919931e0, 0.00756394446124e0, 0.05370402770582e0, 0.027304405849400002e0, 0.02038090975954e0, -0.033959835688540004e0, -0.02217288732996e0, -0.026200171108260003e0, 0.04534695056244e0, 0.00778772845862e0, -0.0032795925299e0, -0.06863204948838e0, -0.021550881946499997e0, 0.0388385737545e0, 0.0016779334004999999e0, 0.06929214105124e0, 0.023442250010539997e0, -0.03469534503294e0, 0.057258088955139994e0, -0.0282678205194e0, -0.05976949621462e0]),
             (6, [0.024394058132245613e0, -0.03139999243349123e0, 0.014477177331087719e0, 0.030372448204333335e0, -0.006160245671210526e0, -0.024335761092947366e0, -0.036072783148649125e0, 0.08098591881878948e0, -0.029449895865263157e0, -0.008765491940789474e0, -0.034689639074052626e0, -0.007491055941333334e0, -0.00578902941045614e0, -0.03407913895440351e0, -0.029325005761789473e0, 0.029100069171649125e0, -0.03031021232401754e0, -0.052678117377350876e0, 0.017650154444754387e0, 0.03369684791775439e0, -0.0313033129317193e0, -0.022899834275824562e0, -0.0036604354002982456e0, 0.038088418314561404e0, 0.0254953404717193e0, 0.0377546084244386e0, -0.007370732773701754e0, 0.039739125547070174e0, 0.04933475494885965e0, 0.0358408581605614e0, 0.02319377717933333e0, 0.08071879439845614e0, -0.02628640290105263e0, 0.0014718104799473684e0, -0.005152381622631579e0, 0.039731587250614035e0, -0.02047096337022807e0, 0.01854099792410526e0, -0.0697220520508421e0, 0.01138027480463158e0, 0.02315451104191228e0, -0.03303173393524561e0, 0.03344309226282456e0, 0.0464351587081579e0, -0.08441820983338597e0, 0.013316382321105264e0, 0.008606036803333333e0, -0.03214193365475439e0, -0.05338138356608772e0, 0.02930017677542105e0, 0.007851121424333333e0, -1.1145615780701755E-4, 0.03255162830050877e0, -0.015375237495298247e0, -0.036015619295070175e0, -0.009455008853070174e0, 0.04016461148912281e0, -0.05452186612640351e0, -0.07242662627914036e0, -0.022340535463964913e0, -5.428079973508772E-4, 0.0037721590376140353e0, 0.005700119779245614e0, 0.043743983948649125e0]),
             (7, [0.021027989048289474e0, 0.0226063207175e0, 0.01150927501486842e0, -0.011278569293947369e0, -0.08294294441226316e0, -0.04623744539355263e0, 0.035919739442e0, -0.08658303176728947e0, 0.02247347595713158e0, -0.06261069492407895e0, 0.030379704898263155e0, 0.003886267604131579e0, 0.051268481772026316e0, 0.057301688259236844e0, -7.504409816052631E-4, -0.03758667011155263e0, -0.056890247674499995e0, 0.02789064428286842e0, -0.03340662056936842e0, 0.03996715586826316e0, 0.0077597067667105266e0, 0.06322953020107895e0, -0.0014321158937631577e0, 0.029511825469526312e0, 0.013324829618052633e0, 0.04355364010405263e0, -0.011922874916842106e0, 0.004386011166421053e0, 0.008613355641605263e0, 0.027675679371710525e0, -0.04117515273889474e0, -0.07518840174021052e0, 0.013231348037973685e0, -0.03688542863455263e0, -0.012775125971447369e0, -0.03139177007657895e0, -0.007952525427500001e0, -0.08268279307160527e0, -0.014092126077e0, 0.020856329752710526e0, 0.09387099675184211e0, -0.01987416523905263e0, 0.052400847271894736e0, -0.03694851344794737e0, 0.0036809912723947368e0, 0.0592912026485e0, -0.027604950175236845e0, 0.0019311128968684211e0, 0.03959515992413158e0, 0.030599749769657892e0, 0.0035797055124736844e0, -0.049535837847e0, 0.018602103852789476e0, -0.015671795417868423e0, -0.02665920175718421e0, 0.03260459252144737e0, -0.009460756769657894e0, -0.01485711106831579e0, 0.053823341039578955e0, -0.025485419864289472e0, 0.003548763827184211e0, 0.03272066394002632e0, 0.06807647366081579e0, 0.015323570280052634e0]),
             (8, [0.01259922131175e0, -0.04867662541457353e0, -0.018450673500088235e0, 0.003165828745676471e0, 0.02120404453570588e0, 0.01650221835520588e0, -0.022489389682e0, 0.0072402857049264704e0, 0.001618393549632353e0, -0.009194194584470588e0, 0.03641566076672059e0, -0.04017545182179411e0, -0.06360636443504411e0, 0.051406099638838236e0, -0.020807388190720588e0, -0.011128464159014707e0, 0.03453375134101471e0, 0.09845178200767647e0, -0.008951391148205881e0, -0.02423783171897059e0, -0.009243861861132354e0, 0.04577977518438235e0, 0.06201902132907353e0, -0.07470617060352941e0, -0.06850080385883824e0, -0.03534820970308823e0, 0.005285827867632353e0, 0.03282633350529412e0, -0.0037832511503235293e0, -0.016985650639985292e0, 0.005591652927867647e0, -0.03775957735955882e0, -0.020239384186588237e0, 0.0020687044528676472e0, 0.03408094203126471e0, 0.08000247781030882e0, -0.01815787706907353e0, -0.015360606981558823e0, 0.05283964244564705e0, 0.03530357090520588e0, 6.416086999852941E-4, 0.00869190760482353e0, -0.016391018611044115e0, -0.027604508015147057e0, -0.002577544959985294e0, -0.03311496059692647e0, 0.015006165658235296e0, 0.007112243954897059e0, -0.001657326506117647e0, 0.012868130640352941e0, -0.013982484030705882e0, -0.028103568909647058e0, 0.03676575647158824e0, 0.020947939294088235e0, 0.061509394004779415e0, -0.027646137129205883e0, -0.07170243720483824e0, -0.01005199629307353e0, 0.05015108889736765e0, 0.01205658477817647e0, -4.917464685441176E-4, 0.012495563164367647e0, -0.02670906538225e0, -0.01981911799342647e0]),
             (9, [-0.01049629150875926e0, 0.017801156431370372e0, 0.05001881125835185e0, -0.09222394964422222e0, 0.023303224472333333e0, -0.05044980393727778e0, -0.02624877312875926e0, 0.03225922155957407e0, 0.055882173124722226e0, 0.047936236015833335e0, 0.0275636889057963e0, -0.03543363788811111e0, 0.04470819232259259e0, -0.02565448746275926e0, 0.04788356635255556e0, 0.04830889785835185e0, 0.01766355466785185e0, 0.04811850019305556e0, 0.016626890229185183e0, 0.038738441386203706e0, -0.005607492169759259e0, -0.027518958099074075e0, -0.0039811298139074075e0, -0.017791135572925925e0, -0.02109992470596296e0, -0.02181247879183333e0, -0.03519116456753704e0, 0.011672469351851853e0, -0.06444625056312964e0, 0.04088098794238889e0, -0.03700034490237037e0, 0.011726705961092591e0, 0.043336877282444446e0, 0.04197904642212963e0, 0.0029114717013888885e0, 0.020379355125537037e0, -0.003228843022388889e0, 0.007826131971148148e0, -0.010155365353925926e0, -0.023812787581481483e0, -0.006322105803185185e0, -0.028520034613203706e0, 0.04815990886979629e0, 0.07361478217511111e0, -0.017627978602685185e0, 0.010852387873425927e0, -0.0233010388587037e0, -0.006393153663444445e0, 0.011367439650240741e0, -0.024796373624759258e0, 0.031046834231074075e0, 0.0429401160477037e0, 0.025305335433444445e0, 4.107522761111111E-4, 0.04024468734001852e0, 0.010037792875777777e0, 0.022009908997777775e0, -0.05673669842590741e0, -0.05551494181983333e0, -0.004583448202907407e0, -0.019208926664314816e0, 0.002682468075e0, 0.002472288095925926e0, -0.09897012704192593e0])),
         cdim AS (
           SELECT cluster, unnest(w) AS cw,
             generate_subscripts(w, 1) AS j
           FROM cen),
         bias AS (
           SELECT cluster, -0.5 * sum(cw * cw ORDER BY j) AS b
           FROM cdim GROUP BY cluster),
         edim AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS j
           FROM embeddings),
         dots AS (
           SELECT e.vec_id, c.cluster,
             sum(e.x * c.cw ORDER BY e.j) AS s
           FROM edim e JOIN cdim c ON e.j = c.j
           GROUP BY e.vec_id, c.cluster),
         keyed AS (
           SELECT d.vec_id, d.cluster, d.s + b.b AS dot,
             row_number() OVER (PARTITION BY d.vec_id
               ORDER BY d.s + b.b DESC, d.cluster DESC) AS rn
           FROM dots d JOIN bias b ON d.cluster = b.cluster)
         SELECT vec_id, CAST(cluster AS INTEGER) AS cluster
         FROM keyed WHERE rn = 1""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      val (assigned, _) = graft.similarity.KMeans.fitPredict(
        emb, "vec_id", "embedding", k = 10, dim = 64, iters = 5)
      assigned.select(col("vec_id"), col("cluster"))
    },

    // ---- distributed PCA: one exact-decimal (i,j)-keyed moment pass
    //      + driver Jacobi eigensolve; projection is a shuffle-free
    //      map with the component matrix as plan literals —
    //      deterministic on any layout, pinned by golden + a
    //      variance-explained floor in RECALL.json. Emitted LONG FORM
    //      (vec_id, m, p): scalar columns only — the oracle harness
    //      cannot sort/hash array cells. p is the raw ordered-fold
    //      double, NOT re-rounded: both engines run the identical
    //      IEEE multiply/add sequence over identical literals (no
    //      libm), so the fold is bit-equal as-is, while a 9-dp
    //      re-round would reintroduce engine-specific round()
    //      disagreement on generic values ----
    // same inlined-learned-table precedent as q_kmeans_assign: the
    // mean vector and 8x64 component matrix (pinned by the
    // q_pca_project golden) replay the projection as ordered double
    // sums — list((x_j - mu_j) * w_mj ORDER BY j) folded with
    // list_reduce is the JVM's sequential zip_with fold bit-for-bit;
    // emitted long-form (vec_id, m, p), scalars only
    QueryDef("q_pca_project",
      """WITH mn AS (
           SELECT unnest([0.002164709854038e0, -0.004547794351472e0, 0.0039301543830219995e0, -0.004793201057444e0, 0.009943076466454e0, 0.0077725329525399995e0, -0.018231355694848e0, 0.009217355088108e0, -0.0024274034146979998e0, -6.178791260560001E-4, 0.0064360780684619995e0, 0.0033540127822220002e0, -0.002658891296398e0, 0.0020540317017200002e0, -2.1456623025E-4, 0.005910249243546e0, 0.0033342206681e0, 0.005826121678218e0, -4.61276365548E-4, 0.001231715519158e0, -0.00383913904242e0, 0.002302184066622e0, 0.004168265111642e0, -0.008054586122042e0, -0.001891165461356e0, 0.012808142676021999e0, -0.0015970649567740001e0, 0.010626326819823999e0, -0.001153276573406e0, 3.903653705E-4, 0.0056047214816639995e0, -0.005792685562478e0, 0.008335300238788e0, -0.006675379839846e0, 0.005155627750542e0, 0.001177179405798e0, -0.005335331542408e0, -0.001593796574154e0, -9.66701676796E-4, -0.00114098193581e0, -0.0017442115085020001e0, -0.011834114763304e0, 3.13518199068E-4, -5.631569666639999E-4, -0.011520562025558e0, 0.003832613509028e0, -5.98060307384E-4, 0.005890298187844e0, -0.003749661162348e0, -0.0102644046155e0, 0.00937715246751e0, -0.00148199218771e0, 0.0077700426972879995e0, -0.003917563282558e0, 0.004709782614142e0, -0.003577291431942e0, 0.0047738668488620005e0, -0.00247036390502e0, -0.004844514904162e0, -0.008721180955264e0, -2.8116569211600003E-4, 0.005004184705332e0, -0.001159062597512e0, -0.013266222528522e0]) AS mu,
             generate_subscripts([0.002164709854038e0, -0.004547794351472e0, 0.0039301543830219995e0, -0.004793201057444e0, 0.009943076466454e0, 0.0077725329525399995e0, -0.018231355694848e0, 0.009217355088108e0, -0.0024274034146979998e0, -6.178791260560001E-4, 0.0064360780684619995e0, 0.0033540127822220002e0, -0.002658891296398e0, 0.0020540317017200002e0, -2.1456623025E-4, 0.005910249243546e0, 0.0033342206681e0, 0.005826121678218e0, -4.61276365548E-4, 0.001231715519158e0, -0.00383913904242e0, 0.002302184066622e0, 0.004168265111642e0, -0.008054586122042e0, -0.001891165461356e0, 0.012808142676021999e0, -0.0015970649567740001e0, 0.010626326819823999e0, -0.001153276573406e0, 3.903653705E-4, 0.0056047214816639995e0, -0.005792685562478e0, 0.008335300238788e0, -0.006675379839846e0, 0.005155627750542e0, 0.001177179405798e0, -0.005335331542408e0, -0.001593796574154e0, -9.66701676796E-4, -0.00114098193581e0, -0.0017442115085020001e0, -0.011834114763304e0, 3.13518199068E-4, -5.631569666639999E-4, -0.011520562025558e0, 0.003832613509028e0, -5.98060307384E-4, 0.005890298187844e0, -0.003749661162348e0, -0.0102644046155e0, 0.00937715246751e0, -0.00148199218771e0, 0.0077700426972879995e0, -0.003917563282558e0, 0.004709782614142e0, -0.003577291431942e0, 0.0047738668488620005e0, -0.00247036390502e0, -0.004844514904162e0, -0.008721180955264e0, -2.8116569211600003E-4, 0.005004184705332e0, -0.001159062597512e0, -0.013266222528522e0], 1) AS j),
         comp(m, w) AS (VALUES
             (0, [-0.20963933001660917e0, -0.12057271532350737e0, 0.03654785815859466e0, 0.011819566737748876e0, 0.07567008238187792e0, 0.013214628821235912e0, 0.09058411852044125e0, 0.2866187923593287e0, 0.049546962195220104e0, 0.41405652648225794e0, 0.06530498182067808e0, 0.1820788538775707e0, 0.0651322414995371e0, -0.03653205475441454e0, 0.17114897510592436e0, -0.18534977731335603e0, 0.08898987447997779e0, -0.1570265546025708e0, -0.030136686336467246e0, 0.03217896951219557e0, 0.06121320408469091e0, -0.11068832311900659e0, -0.0834751278603199e0, -0.05543746863536199e0, 0.01955001202914878e0, 0.1991254285423887e0, -0.03751725244878448e0, 0.14950769892561727e0, -0.17287963096050163e0, -0.006123114077691251e0, -0.05871572669953374e0, 0.062037717986125285e0, 0.2965385435349478e0, 0.10616457882249865e0, -0.03204193889327297e0, 0.10414385148135125e0, 0.0445387595303467e0, 0.06146405309501749e0, 0.013006698193774865e0, 0.021771205655377334e0, -0.11667898780274165e0, 0.005524586413773768e0, -0.24083692027805878e0, 0.09570759065728734e0, -0.028307708366412002e0, -0.2251274447283311e0, 0.008731835913525856e0, -0.07903750804845348e0, -0.08368084415481639e0, -0.11845091152668759e0, 0.12045949821580305e0, 0.07248325158316381e0, -0.017186482161962786e0, 0.08160437407387762e0, -0.01503135563436264e0, -0.06676477469736715e0, -0.05565063626853766e0, -0.051376057816845115e0, 0.06019601766800317e0, -0.09113914347460655e0, 0.12198699564332222e0, 0.0506498338712592e0, -0.21821146492232518e0, -0.10201388635750254e0]),
             (1, [-0.0038371272178442774e0, -0.05443024576998093e0, -0.012567933474663662e0, -0.08813365797898151e0, 0.17485769775552182e0, 0.02521436579671955e0, 0.07494656338927617e0, -0.0699807010684233e0, 0.07744817020876264e0, 0.030696056211884735e0, 0.10575814459832654e0, -0.017882873010644278e0, 0.01297565633274454e0, 0.13369681742662004e0, 0.014559198311941312e0, 0.04139191933550652e0, 0.1484110007875666e0, 0.36030985112321995e0, -0.05418865141815595e0, -0.05076477591545886e0, 0.03254316973743793e0, 0.03539112684091356e0, 0.06533467377919937e0, -0.30912280550609017e0, -0.2576821382605434e0, -0.23906586362569213e0, -0.020637632795840292e0, -2.2331336849215036E-4, -0.086285703720871e0, -0.17453292226773034e0, -0.024067927226567427e0, -0.21754493603778577e0, 0.02946393515704353e0, 0.06153867891647976e0, 0.033753328418890324e0, 0.07921967482666384e0, 0.059467100157193156e0, 0.03649840257691226e0, 0.18210698157164804e0, 0.046673884815412056e0, 8.626501519717648E-6, 0.046986755636598376e0, -0.06276704623365596e0, -0.1791897959341835e0, 0.17268649020299884e0, -0.18883522295762112e0, -0.0469458713151727e0, 0.1457794821094592e0, 0.11292397757439994e0, -0.11328063222949568e0, -0.15743104349240672e0, -0.08197501073208928e0, 0.01297994674114663e0, -0.016092353745218453e0, 0.23803515092474636e0, 0.02338431738872954e0, -0.3028202755248806e0, 0.016382840102416047e0, 0.1354336430091741e0, -0.12158606610581471e0, -0.08367049602357303e0, 0.08483882908448488e0, -4.43184871000075E-4, -0.07861586992632029e0]),
             (2, [-0.14804403755815895e0, -0.08512440644998978e0, -0.06394747371956834e0, -4.575970201240018E-4, -0.20437466508182192e0, -0.043741735015420204e0, 0.1177552992592136e0, -0.2844978534926144e0, 0.044402396334653614e0, 0.023717338004903093e0, -0.051179527610385814e0, 0.03570203353229534e0, -0.06017956430592028e0, -0.03455060720843053e0, 0.009449519109243581e0, -0.2345457561483918e0, 0.1713735271107476e0, -0.08492758805401059e0, 0.11604706769427074e0, 0.07732840317408864e0, 0.013131626733886142e0, 0.17530755089595007e0, -0.10064801517312597e0, 0.05337470422634762e0, 0.09255730929911114e0, 0.10008395001912332e0, 0.09063736312349312e0, -0.13414209860845425e0, 0.010277697047014488e0, -0.10540482797841033e0, -0.12285966843834287e0, 0.09091210818976429e0, 0.04825216629301643e0, -0.18066130224597782e0, -0.029769890420987995e0, -0.10216258213077538e0, 0.13907849924224627e0, -0.21255244175528065e0, -0.0634565230880271e0, -0.10392899603783254e0, 0.18947963434178755e0, 0.1901101011089473e0, -0.12585555806895554e0, -0.20893277874847216e0, 0.1658656822300189e0, 0.05283627633080003e0, 0.04279757474294514e0, 0.018020015398095814e0, -0.0683200932325407e0, -0.05127551298029621e0, -0.12949844498207916e0, -0.10645450056375991e0, 0.22780031589634683e0, -0.1532947679383263e0, -0.1791520941492177e0, -0.0019200152184037755e0, -0.005381095593825273e0, 0.10972460099833248e0, 0.18279524157657598e0, -0.05268508459170053e0, -0.06955779387215426e0, 0.28843060582872376e0, -0.09008107781928475e0, -0.07553050141660803e0]),
             (3, [0.06808659693094951e0, 0.06269221088299325e0, 0.008780757116996734e0, 0.1725269858455775e0, -0.25796105061745256e0, 0.10712924749587659e0, -0.023209209794969335e0, 0.1775430928743085e0, -0.11522019045015919e0, 0.1362019579827542e0, 0.007640884131473202e0, 0.20195047577195088e0, -0.060775444643881765e0, -0.1402193539510056e0, -0.09311367889119303e0, 0.049308065764735974e0, 0.09682486294738626e0, 0.07142426949770989e0, -0.009319477546489877e0, -0.2031684878199457e0, -0.22547295139974305e0, 0.15765898139356085e0, -0.011856441219378937e0, 0.07323162374923427e0, 0.027470748408213765e0, -0.11908308265806468e0, 0.1164542921404111e0, -0.003835251874894934e0, 0.128924483354123e0, -0.10452312733725226e0, 0.1521165649383989e0, 0.20057539618799664e0, -0.08141318128026967e0, -0.01767746907675964e0, -0.11650295044770947e0, 0.31619012195899365e0, -0.11671862241394834e0, -0.14843441727756065e0, -0.010252064338617079e0, -0.04828886545343362e0, -0.014507537290526312e0, -1.7919676217341906E-4, -0.08565322476317755e0, -0.017434761713197872e0, -0.07573379922142465e0, -0.041520825433724054e0, -0.013620431383834123e0, 0.36940447483735406e0, -0.10851089305569518e0, -0.15344609944152524e0, 0.06647233909088046e0, -0.01977800936403107e0, 0.009329623084683328e0, 0.005401021766640027e0, -0.021917540551676485e0, 0.10147291470916524e0, -0.17091025495367873e0, 0.09292951417043605e0, -0.17072042742250215e0, -0.07391767731523063e0, -0.19206043423679497e0, -0.09621918573463016e0, -0.08404634245618917e0, 0.02629688585025799e0]),
             (4, [-0.01508534756984492e0, 0.013517865822976037e0, -0.17389132048524455e0, 0.02253742213756608e0, 0.16896698435455432e0, 0.3086630920578376e0, -0.2530950596384524e0, -0.10693042062475487e0, -0.017906200376105887e0, -0.06613281138270266e0, -0.14284835419829972e0, 0.3619618957920015e0, 0.11830375330568042e0, 0.11743309808598881e0, 0.11494380704496351e0, 0.055716544102439855e0, -0.11872343460538165e0, -0.11316167148703979e0, -0.01902053430515011e0, -0.24534483030901935e0, 0.031918236059532736e0, 0.0344519168618401e0, -0.011091880158803752e0, -0.10927001971166007e0, 0.12474957921915723e0, 0.16616884568066395e0, 0.03526854804529071e0, -0.1413783366013091e0, -0.026189293634676012e0, -0.1825991578540295e0, 0.04226625183245487e0, 0.016172195476406786e0, -0.06229191535003857e0, -0.028462604620836485e0, -0.03986889349850858e0, -0.05384708017492382e0, -0.08802504604115466e0, 0.2352514010832318e0, 0.04905411981839351e0, -0.2630745924494191e0, -0.05655833933150154e0, -0.10089457052345881e0, -0.007513654284286321e0, -0.05056559009259299e0, 0.11724159723331354e0, 0.009091732565537637e0, -0.03499876040897467e0, -0.020604323570515785e0, 0.10296227463480699e0, -0.21235460233870632e0, -0.13375687696074512e0, -0.08333561356841654e0, -0.16669651257419996e0, 0.09694053144683577e0, -0.217877433966349e0, -0.004216181308929742e0, -0.005630303019847207e0, 0.04229455935676747e0, 0.10565659882668936e0, -0.004698642659135171e0, 0.05406348794632309e0, 0.03249524823892772e0, 0.07261703253232357e0, 0.06545658155625234e0]),
             (5, [-0.08544207411390912e0, 0.011076242789586178e0, -0.1744330539498953e0, 0.1997158227382775e0, 0.008519457705322723e0, -0.02935471483859419e0, 0.16018544728919742e0, -0.01384658819402983e0, -0.11290145070413776e0, -0.04229772769115366e0, 0.02215837524009635e0, 0.03605046975048862e0, -0.18230215304147662e0, 0.4784807238869084e0, -0.08551788850375193e0, -0.017420528279437755e0, 0.024875500962044418e0, -0.19661496147871627e0, -0.2096973240755571e0, -0.10289007389534918e0, -0.06340424749883157e0, 0.03467842363236146e0, 0.16836503422452503e0, 0.03422494667760793e0, 0.006176514512886136e0, -0.022542977943764343e0, -0.18434962747246933e0, -0.02527352779620449e0, 0.012000127806995728e0, -0.05242866309612357e0, 0.16064800817800848e0, -0.10225656235882602e0, -0.15891143460209756e0, -0.18394127657206466e0, -0.09522292106472229e0, 0.015104919158700781e0, 0.17046990841537257e0, 0.05533662712546347e0, -0.07520278543372658e0, 0.20414406991756767e0, -0.0418525187634915e0, 0.2693909839460649e0, -0.1791556716660383e0, -0.04481312590088191e0, -0.038453382304453436e0, -0.11610530059464434e0, 0.12082475546500947e0, -0.007047023984702731e0, 0.030184523340581904e0, 0.04781309536236092e0, 0.16379574987809273e0, 0.014019726440658655e0, 0.06607626122156827e0, 0.11155759478261534e0, -0.09857967354725018e0, -0.09315850574202432e0, -0.08969349432894608e0, -0.10318157108385237e0, -0.017876517960484933e0, 0.13658261990810786e0, 0.07658137891812629e0, -0.07416291204804207e0, 0.07691180885388507e0, 0.01438098028834065e0]),
             (6, [-0.104677032287696e0, 0.04334903473169027e0, 0.3308233466634177e0, 0.05281115210180784e0, 0.07154724254474129e0, -0.23957893423096915e0, -0.035970206907013844e0, -0.050250640582803124e0, 0.005446403017656507e0, 0.21559012725716142e0, -0.25725132543057033e0, 0.08007311348834399e0, 0.23352969305550197e0, 0.06344687151082529e0, 0.106959372062481e0, 0.19554398223566835e0, 0.05497151097418605e0, -0.15899119528663444e0, -0.06773789164231446e0, 0.04729157369161087e0, -0.04121476171772915e0, -0.06668512606089907e0, -0.0477899042308312e0, 0.027070002081949502e0, -0.05888062996802145e0, 0.008833017874950399e0, -0.13899058855228566e0, -0.15865816066784721e0, 0.040306950589685864e0, -0.12584152716451177e0, 0.1536627626756421e0, -0.22586041349742994e0, -0.11182059620532897e0, 0.10493781231285376e0, 0.01450336954178789e0, -0.18891690793743088e0, 0.0072130098264476415e0, -0.20401995139228216e0, -0.132550859095582e0, -0.20449431762633943e0, 0.19571794479598256e0, 0.08722166889780034e0, 0.024970696636133518e0, -0.017672627369704708e0, -0.06601916272387814e0, -0.06466506768777844e0, -0.13659525086433424e0, 0.044331846478360956e0, -0.13211726951125286e0, -0.0860836438252544e0, -0.05007145655058547e0, 0.21818178555972692e0, 0.04603151276024757e0, 0.14948532648150578e0, 0.10036773912785972e0, 0.06536654088408791e0, -0.014218162855062815e0, -0.01194769128862153e0, -0.02457567182919416e0, 0.01462271114353275e0, -0.1582386979643647e0, -0.04525846389625555e0, 0.13015213607435974e0, -0.037122946418153925e0]),
             (7, [0.28053834556296997e0, -0.13715906812846676e0, -0.041266920857311665e0, 0.07332610324034254e0, -0.019158560091254443e0, -0.14848892176939218e0, -0.11300436697000635e0, 0.08889731754426959e0, -0.017383141184218187e0, 0.09350298184162589e0, 0.15384331717530159e0, -0.0953387630499059e0, 0.10336993990334269e0, 0.022934882237139652e0, 0.07543842908721819e0, 0.18178213560325862e0, -0.16023107870939482e0, 0.02863289346479167e0, -0.05134798748767351e0, -0.017840531442841562e0, -0.009984333275665008e0, 0.1667173656233132e0, -0.0036041623705857836e0, 0.25852724160569207e0, -0.15791550699054446e0, 0.05612739386357318e0, -0.09822172387174434e0, -0.040300239804647885e0, -0.014822404979673432e0, 0.04401133555576706e0, 0.0482368115572287e0, -0.08010611845362679e0, 0.029625486993663665e0, 0.045614000096223184e0, 0.10346268551222576e0, -0.20726140108276592e0, -0.14479500270500792e0, -0.11211549327326459e0, -0.03295226754086049e0, 0.027501799002280978e0, -0.10105638318843091e0, -0.12730956527183704e0, -0.19101634335540363e0, -0.0889929477113711e0, 0.11129272032578011e0, 0.06580293908179483e0, -0.1425633892509241e0, 0.21676374381785535e0, 0.14131254421355485e0, -0.01800817498345244e0, 0.23205685634128487e0, -0.19508721033424792e0, 0.010139005428824543e0, 0.01670622449826584e0, -0.18769487157623593e0, -0.04931118633401414e0, 0.012939834002709046e0, -0.045929942721279524e0, 0.31640769191890916e0, 0.13303036695919554e0, 0.003273279892846201e0, 0.05165375785180388e0, -0.15850982823746454e0, -0.20279568057058536e0])),
         cdim AS (
           SELECT m, unnest(w) AS cw, generate_subscripts(w, 1) AS j
           FROM comp),
         edim AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS j
           FROM embeddings),
         proj AS (
           -- list(ORDER BY) is order-guaranteed, list_reduce folds
           -- sequentially — the exact left fold Spark's aggregate HOF
           -- performs (sum(ORDER BY) does NOT pin double addition
           -- order and drifts in the last ulp)
           SELECT e.vec_id, c.m,
             list_reduce(list((e.x - mn.mu) * c.cw ORDER BY e.j),
               (a, b) -> a + b) AS p
           FROM edim e
           JOIN cdim c ON e.j = c.j
           JOIN mn ON e.j = mn.j
           GROUP BY e.vec_id, c.m)
         SELECT vec_id, m, p FROM proj""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      val model = graft.similarity.Pca.fit(emb, "embedding", dim = 64, k = 8)
      graft.similarity.Pca.project(emb, "embedding", model)
        .select(col("vec_id"), posexplode(col("projected")).as(Seq("m", "p")))
    },

    // ---- SemDeDup (arXiv:2303.09540), the published shape composed
    //      from the engine's own primitives: exact-decimal k-means
    //      partition -> within-cell cosine near-dup -> component
    //      collapse to the min-id member; sub-quadratic by the
    //      cell-scoping approximation ----
    // SemDeDup replay: the inlined sf0.01 centroid matrix (same
    // VALUES as q_kmeans_assign) assigns cells, within-cell cosine
    // pairs at >= 0.4 (the q_semantic_collapse list_reduce cosine),
    // recursive-CTE components, min-id collapse; zero-norm rows are
    // never paired and always survive
    QueryDef("q_semdedup",
      """WITH RECURSIVE cen(cluster, w) AS (VALUES
             (0, [0.027674780953428575e0, 0.03091342489164286e0, -0.05425491070909524e0, 0.028569055477214285e0, 0.01330180334797619e0, 0.06556863425342857e0, -0.023533889829904762e0, -0.003358426379095238e0, -0.060944316354309525e0, -0.005714051303595238e0, 0.027374715849071425e0, 0.046876268073357145e0, 0.07559927163780952e0, -0.04968642604183333e0, 0.015850797772285714e0, -0.05741506772338095e0, -0.010644343155e0, -0.0034804160795238095e0, 0.005209908355071428e0, -0.03927501779980952e0, 0.01270190128157143e0, 7.749966781190476E-4, -0.09068885632135715e0, 0.0019329549478809523e0, 0.05188305719221428e0, 0.07403609136645238e0, 0.011989027766214286e0, 0.013008683820142858e0, -0.013990043740166666e0, 0.0507574122e0, -0.017426749380952383e0, -0.015226893232285715e0, 0.0650592514402381e0, 0.006728623400500001e0, -0.03955031970202381e0, 0.02704768862921429e0, -0.022752619259785715e0, -0.034479180813809525e0, 0.041107317449357146e0, -0.11004232903492857e0, 0.007835500590880952e0, -0.06229920852154761e0, -0.06479744324483334e0, -0.06339737875090476e0, 0.021362085139357143e0, 0.007071135320333334e0, -0.039501819820571424e0, -0.005030805710714285e0, -0.010159178021642857e0, -0.11378086995819048e0, 0.004779457253285714e0, -0.04020452098723809e0, -0.005520906221738096e0, -0.002996664050785714e0, -0.031589151509785716e0, -0.012670741682666667e0, 0.052304353986309525e0, 0.015611940102309525e0, 0.03239217198766667e0, -0.0012503592741190475e0, 0.016973104571880955e0, -0.013009250820999999e0, -0.06648277051242857e0, -0.016330139107261905e0]),
             (1, [-0.038166633869244446e0, 0.03067005561251111e0, 0.010583489396022223e0, 0.0029877184838888893e0, -0.005169629812688889e0, 0.03458634790082222e0, 0.030428785799733335e0, 0.06351999425742222e0, -0.024965531787733333e0, -0.006372045684222222e0, -0.01648438716202222e0, -0.034518085413688886e0, -0.026252220395088885e0, -0.019687421987288886e0, -0.032905850031711106e0, -0.014616721723666666e0, 0.022032980124266667e0, -0.06757711110022223e0, -0.04324904715431111e0, 0.04649606311388889e0, -0.07973349312731111e0, -0.026106769456933333e0, -0.018373362864844443e0, -0.013286735588177776e0, -0.0021417347206666667e0, 0.021108181587155554e0, -0.010170353638644445e0, -0.002725964976111111e0, -0.0024928104572222226e0, -0.044244967284555556e0, 0.05365292892484445e0, -0.014370618465733334e0, 0.05850423654128889e0, 0.007971172227466667e0, 0.04926679628997777e0, 0.024346515639866666e0, -0.022830609785800003e0, 0.03973525014388889e0, -0.025404646112933336e0, 0.06421543315784445e0, -0.06301187475522221e0, -0.0049093091861111115e0, -0.05315571233837778e0, -0.009837308977377777e0, -0.03793778707171111e0, 0.006195884404866667e0, -0.057202432620222225e0, 0.032912642964133335e0, 9.006139589555555E-4, 0.016739674285044446e0, 0.059134115899555556e0, 6.49991722E-4, -0.01240634845268889e0, 0.007610934351933333e0, 0.037298831193577776e0, -0.04855998112144444e0, 0.037869660069955555e0, 0.038638851587177774e0, 0.015467409631111111e0, -0.04986123825528889e0, -0.040021721770333335e0, -0.026423373707222222e0, -0.01379556970468889e0, -0.047123703650244445e0]),
             (2, [0.03415851351224528e0, -0.004847747119962264e0, 0.03220419663684906e0, 0.014508253626792453e0, 0.00598064322854717e0, 0.07129816896388678e0, -0.007477937849679246e0, -0.0036959699685094336e0, -0.013402886109943396e0, 0.061054175563660384e0, 0.026646607643301887e0, 0.08741019777781132e0, -0.00999024956054717e0, 0.02240438705726415e0, -0.003171774575792453e0, 0.036126182064226416e0, 0.0166718171984717e0, 0.006204123074981132e0, -0.03668064959696226e0, -0.039711950203509434e0, -0.02653353924009434e0, -0.016499174271188678e0, 0.002946391785169811e0, 0.02270586514090566e0, 0.004281470360962264e0, -0.015494462190547169e0, -0.019294742814415095e0, 0.01328877437001887e0, 0.0925807600845283e0, -0.020497406951509433e0, 0.07665634202939622e0, -0.047643718999415094e0, -0.01027755031609434e0, -0.021742176987150943e0, -0.010875031554132076e0, -0.015772623673339623e0, -0.007442205538113207e0, -0.04398322922079245e0, -0.005832425931547171e0, 0.00442507231764151e0, -0.007093982665584905e0, 0.01397018593228302e0, 0.04731585322181132e0, -0.020921281834301888e0, -0.006093918293113208e0, -0.028407448599603775e0, -0.0012617661597924528e0, 0.0690435327695283e0, 0.012787900856245283e0, 0.023215203168245283e0, -0.010690661459132075e0, 0.004257316648358491e0, 0.017522599758981135e0, -0.019037033062207546e0, 0.0174994357545283e0, 0.06202041517224528e0, -0.03931530432798113e0, 0.012240452075264151e0, -0.08691992945437736e0, -0.0709352766068868e0, -0.0031789889707547173e0, -0.007866965316849057e0, 0.015122794458301888e0, -0.01079346272509434e0]),
             (3, [0.010795183643148937e0, -0.003729222491042553e0, 0.005121361939851064e0, 0.0073545194885106385e0, 0.06624087386151063e0, 0.011330983601489363e0, -0.02514298706548936e0, 0.004577936238021277e0, 5.8809508361702125E-5, 9.691692056170212E-4, 0.06283417032004256e0, 0.021536759421659574e0, -0.05417060244212766e0, 0.017943709672638298e0, 0.03308129683142553e0, 0.0013842265507659575e0, -0.0034169630999361703e0, -0.011982261813829788e0, 0.008966372873446808e0, 0.00979661876138298e0, 0.030031136795659573e0, -0.01614922838919149e0, -0.03577032136395745e0, 0.05874746162046809e0, -0.035228908802617025e0, -0.012682743172446808e0, 0.0239964352346383e0, 0.02327823610680851e0, -0.019041912536085105e0, 0.02474765315338298e0, -0.025722393790787234e0, -0.04534833130751064e0, 0.004485996846255319e0, -4.306389217021276E-4, 0.02987669253506383e0, -0.05196040558780851e0, 0.018811771358787234e0, 0.08066029684925531e0, -0.010032892098361702e0, 0.011056627310468086e0, -0.07230066815680851e0, -0.023339241921404255e0, -0.012444076544404256e0, 0.032055853497042555e0, -1.558548203829787E-4, -0.034063551411404255e0, 0.02671393241357447e0, -0.024334632811404255e0, 0.046950337285106385e0, -0.04262977745880851e0, 0.07250405850502127e0, -0.009724956139574468e0, -0.0487444906772766e0, -0.027401291007361703e0, -0.0109111782103617e0, 0.040913325486787236e0, 0.012852892789851062e0, 0.0446649699056383e0, 0.01126086465031915e0, 0.03786318482178724e0, 0.08217493454580851e0, -0.02180441326280851e0, -0.01028094621019149e0, 0.06510742842782978e0]),
             (4, [-0.020486721394391304e0, 0.06126691094271739e0, -0.03264436371741304e0, -0.035922675365695655e0, -0.004788062641456522e0, -0.0015296354666304347e0, -0.023874066980173914e0, -0.04731957011082609e0, -1.1025921415217392E-4, -0.06738002294845652e0, -0.04787401351880435e0, 0.011883591387804347e0, 0.004621799613978261e0, 0.050726767339565215e0, -0.02570319145845652e0, 0.021561874937195653e0, 0.04611991676904347e0, 0.021781449773086957e0, 0.03185528672158695e0, -0.009423260172065217e0, 0.04147438473154348e0, -0.0026251431351956523e0, 0.06271235769343478e0, -0.07673421731402173e0, 0.06549240710497826e0, -0.03159330234582609e0, -0.00989918625071739e0, -0.024076349542260872e0, -0.06533972266554348e0, -0.017178070690934782e0, -0.022455780594847825e0, 0.025826823047369562e0, -0.04584442573073913e0, -0.04456712228606522e0, -0.05052233418034782e0, -0.01854128462430435e0, 0.06181345237726087e0, 0.025632077842891305e0, 0.018620082976956522e0, -0.047754847808999995e0, 0.009901714680760869e0, 0.05103250964143478e0, -0.036162153129413045e0, -0.04150007992128261e0, 0.01741220970873913e0, 0.009034205698804348e0, 0.04731597999395652e0, -0.005194464024065217e0, -0.03561144126780435e0, -0.0346474401835e0, -0.022033395400065218e0, 0.007900501014239131e0, -0.01697370371752174e0, 0.006753598420826087e0, 0.037613784347673915e0, -0.055780046113326084e0, -0.004759372156326087e0, 0.020828436498260872e0, -0.04772413015980435e0, 0.008980059145934782e0, -9.703518438695653E-4, 0.007900760331934781e0, 0.05868550333306522e0, 0.00630836021e0]),
             (5, [-0.04434690434486e0, -0.08117959820670001e0, 0.012254382963299998e0, 0.00538136059414e0, 0.04476336588154e0, 0.0016260420182e0, -0.06364761736702e0, 0.00976751565936e0, 0.017580664372079998e0, 0.01902678760466e0, -0.049899933787480005e0, -1.0874427391999999E-4, -0.0033520722947999997e0, -0.05419328236252e0, 0.02065216876098e0, 0.01940723998472e0, -0.02268904210766e0, -0.04035405145028e0, 0.03056599613276e0, -0.03264655236618e0, 0.03285514864136e0, 0.02646281568338e0, 0.03241793034368e0, -0.02394179818686e0, -0.01548460696818e0, 0.09979551545464e0, 0.03839666712858e0, -0.02191411100326e0, -0.005701861390900001e0, -0.06758689627976e0, 0.023188628633500002e0, 0.0409783301537e0, 0.02553606608984e0, -0.036922382740319996e0, 0.03645075949256e0, -0.10248972183090001e0, -0.0227935889875e0, -0.02137675860014e0, 0.006448867809960001e0, 9.631311125E-4, 0.0072766102012400006e0, -0.0296696674521e0, -0.00745370153806e0, 0.0198828919931e0, 0.00756394446124e0, 0.05370402770582e0, 0.027304405849400002e0, 0.02038090975954e0, -0.033959835688540004e0, -0.02217288732996e0, -0.026200171108260003e0, 0.04534695056244e0, 0.00778772845862e0, -0.0032795925299e0, -0.06863204948838e0, -0.021550881946499997e0, 0.0388385737545e0, 0.0016779334004999999e0, 0.06929214105124e0, 0.023442250010539997e0, -0.03469534503294e0, 0.057258088955139994e0, -0.0282678205194e0, -0.05976949621462e0]),
             (6, [0.024394058132245613e0, -0.03139999243349123e0, 0.014477177331087719e0, 0.030372448204333335e0, -0.006160245671210526e0, -0.024335761092947366e0, -0.036072783148649125e0, 0.08098591881878948e0, -0.029449895865263157e0, -0.008765491940789474e0, -0.034689639074052626e0, -0.007491055941333334e0, -0.00578902941045614e0, -0.03407913895440351e0, -0.029325005761789473e0, 0.029100069171649125e0, -0.03031021232401754e0, -0.052678117377350876e0, 0.017650154444754387e0, 0.03369684791775439e0, -0.0313033129317193e0, -0.022899834275824562e0, -0.0036604354002982456e0, 0.038088418314561404e0, 0.0254953404717193e0, 0.0377546084244386e0, -0.007370732773701754e0, 0.039739125547070174e0, 0.04933475494885965e0, 0.0358408581605614e0, 0.02319377717933333e0, 0.08071879439845614e0, -0.02628640290105263e0, 0.0014718104799473684e0, -0.005152381622631579e0, 0.039731587250614035e0, -0.02047096337022807e0, 0.01854099792410526e0, -0.0697220520508421e0, 0.01138027480463158e0, 0.02315451104191228e0, -0.03303173393524561e0, 0.03344309226282456e0, 0.0464351587081579e0, -0.08441820983338597e0, 0.013316382321105264e0, 0.008606036803333333e0, -0.03214193365475439e0, -0.05338138356608772e0, 0.02930017677542105e0, 0.007851121424333333e0, -1.1145615780701755E-4, 0.03255162830050877e0, -0.015375237495298247e0, -0.036015619295070175e0, -0.009455008853070174e0, 0.04016461148912281e0, -0.05452186612640351e0, -0.07242662627914036e0, -0.022340535463964913e0, -5.428079973508772E-4, 0.0037721590376140353e0, 0.005700119779245614e0, 0.043743983948649125e0]),
             (7, [0.021027989048289474e0, 0.0226063207175e0, 0.01150927501486842e0, -0.011278569293947369e0, -0.08294294441226316e0, -0.04623744539355263e0, 0.035919739442e0, -0.08658303176728947e0, 0.02247347595713158e0, -0.06261069492407895e0, 0.030379704898263155e0, 0.003886267604131579e0, 0.051268481772026316e0, 0.057301688259236844e0, -7.504409816052631E-4, -0.03758667011155263e0, -0.056890247674499995e0, 0.02789064428286842e0, -0.03340662056936842e0, 0.03996715586826316e0, 0.0077597067667105266e0, 0.06322953020107895e0, -0.0014321158937631577e0, 0.029511825469526312e0, 0.013324829618052633e0, 0.04355364010405263e0, -0.011922874916842106e0, 0.004386011166421053e0, 0.008613355641605263e0, 0.027675679371710525e0, -0.04117515273889474e0, -0.07518840174021052e0, 0.013231348037973685e0, -0.03688542863455263e0, -0.012775125971447369e0, -0.03139177007657895e0, -0.007952525427500001e0, -0.08268279307160527e0, -0.014092126077e0, 0.020856329752710526e0, 0.09387099675184211e0, -0.01987416523905263e0, 0.052400847271894736e0, -0.03694851344794737e0, 0.0036809912723947368e0, 0.0592912026485e0, -0.027604950175236845e0, 0.0019311128968684211e0, 0.03959515992413158e0, 0.030599749769657892e0, 0.0035797055124736844e0, -0.049535837847e0, 0.018602103852789476e0, -0.015671795417868423e0, -0.02665920175718421e0, 0.03260459252144737e0, -0.009460756769657894e0, -0.01485711106831579e0, 0.053823341039578955e0, -0.025485419864289472e0, 0.003548763827184211e0, 0.03272066394002632e0, 0.06807647366081579e0, 0.015323570280052634e0]),
             (8, [0.01259922131175e0, -0.04867662541457353e0, -0.018450673500088235e0, 0.003165828745676471e0, 0.02120404453570588e0, 0.01650221835520588e0, -0.022489389682e0, 0.0072402857049264704e0, 0.001618393549632353e0, -0.009194194584470588e0, 0.03641566076672059e0, -0.04017545182179411e0, -0.06360636443504411e0, 0.051406099638838236e0, -0.020807388190720588e0, -0.011128464159014707e0, 0.03453375134101471e0, 0.09845178200767647e0, -0.008951391148205881e0, -0.02423783171897059e0, -0.009243861861132354e0, 0.04577977518438235e0, 0.06201902132907353e0, -0.07470617060352941e0, -0.06850080385883824e0, -0.03534820970308823e0, 0.005285827867632353e0, 0.03282633350529412e0, -0.0037832511503235293e0, -0.016985650639985292e0, 0.005591652927867647e0, -0.03775957735955882e0, -0.020239384186588237e0, 0.0020687044528676472e0, 0.03408094203126471e0, 0.08000247781030882e0, -0.01815787706907353e0, -0.015360606981558823e0, 0.05283964244564705e0, 0.03530357090520588e0, 6.416086999852941E-4, 0.00869190760482353e0, -0.016391018611044115e0, -0.027604508015147057e0, -0.002577544959985294e0, -0.03311496059692647e0, 0.015006165658235296e0, 0.007112243954897059e0, -0.001657326506117647e0, 0.012868130640352941e0, -0.013982484030705882e0, -0.028103568909647058e0, 0.03676575647158824e0, 0.020947939294088235e0, 0.061509394004779415e0, -0.027646137129205883e0, -0.07170243720483824e0, -0.01005199629307353e0, 0.05015108889736765e0, 0.01205658477817647e0, -4.917464685441176E-4, 0.012495563164367647e0, -0.02670906538225e0, -0.01981911799342647e0]),
             (9, [-0.01049629150875926e0, 0.017801156431370372e0, 0.05001881125835185e0, -0.09222394964422222e0, 0.023303224472333333e0, -0.05044980393727778e0, -0.02624877312875926e0, 0.03225922155957407e0, 0.055882173124722226e0, 0.047936236015833335e0, 0.0275636889057963e0, -0.03543363788811111e0, 0.04470819232259259e0, -0.02565448746275926e0, 0.04788356635255556e0, 0.04830889785835185e0, 0.01766355466785185e0, 0.04811850019305556e0, 0.016626890229185183e0, 0.038738441386203706e0, -0.005607492169759259e0, -0.027518958099074075e0, -0.0039811298139074075e0, -0.017791135572925925e0, -0.02109992470596296e0, -0.02181247879183333e0, -0.03519116456753704e0, 0.011672469351851853e0, -0.06444625056312964e0, 0.04088098794238889e0, -0.03700034490237037e0, 0.011726705961092591e0, 0.043336877282444446e0, 0.04197904642212963e0, 0.0029114717013888885e0, 0.020379355125537037e0, -0.003228843022388889e0, 0.007826131971148148e0, -0.010155365353925926e0, -0.023812787581481483e0, -0.006322105803185185e0, -0.028520034613203706e0, 0.04815990886979629e0, 0.07361478217511111e0, -0.017627978602685185e0, 0.010852387873425927e0, -0.0233010388587037e0, -0.006393153663444445e0, 0.011367439650240741e0, -0.024796373624759258e0, 0.031046834231074075e0, 0.0429401160477037e0, 0.025305335433444445e0, 4.107522761111111E-4, 0.04024468734001852e0, 0.010037792875777777e0, 0.022009908997777775e0, -0.05673669842590741e0, -0.05551494181983333e0, -0.004583448202907407e0, -0.019208926664314816e0, 0.002682468075e0, 0.002472288095925926e0, -0.09897012704192593e0])),
         cdim AS (
           SELECT cluster, unnest(w) AS cw,
             generate_subscripts(w, 1) AS j
           FROM cen),
         bias AS (
           SELECT cluster, -0.5 * sum(cw * cw ORDER BY j) AS b
           FROM cdim GROUP BY cluster),
         e0 AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings),
         e AS (SELECT vec_id, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         edim AS (
           SELECT vec_id, unnest(v) AS x,
             generate_subscripts(v, 1) AS j
           FROM e),
         dots AS (
           SELECT ed.vec_id, cd.cluster,
             sum(ed.x * cd.cw ORDER BY ed.j) AS s
           FROM edim ed JOIN cdim cd ON ed.j = cd.j
           GROUP BY ed.vec_id, cd.cluster),
         keyed AS (
           SELECT d.vec_id, d.cluster,
             row_number() OVER (PARTITION BY d.vec_id
               ORDER BY d.s + b.b DESC, d.cluster DESC) AS rn
           FROM dots d JOIN bias b ON d.cluster = b.cluster),
         asg AS (SELECT vec_id, cluster FROM keyed WHERE rn = 1),
         s AS (
           SELECT a.vec_id id_a, b.vec_id id_b,
             list_reduce(list_transform(list_zip(a.v, b.v),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                  (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                  (acc, x) -> acc + x))) AS cos
           FROM e a
           JOIN asg ca ON a.vec_id = ca.vec_id,
           e b
           JOIN asg cb ON b.vec_id = cb.vec_id
           WHERE a.vec_id < b.vec_id AND ca.cluster = cb.cluster),
         pp AS (SELECT id_a, id_b FROM s WHERE cos >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pp
                   UNION SELECT id_b, id_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cl AS (SELECT a AS vec_id, min(b) AS cluster_id
                FROM reach GROUP BY a)
         SELECT e0.vec_id, e0.label FROM e0
         WHERE NOT EXISTS (SELECT 1 FROM cl
           WHERE cl.vec_id = e0.vec_id AND cl.cluster_id <> cl.vec_id)""") { (s, d) =>
      val emb = t("embeddings")(s, d)
      val cen = graft.similarity.KMeans.train(
        emb, "vec_id", "embedding", k = 10, dim = 64, iters = 5)
      graft.dedup.Dedup.semDeDup(emb, "vec_id", "embedding", cen, 0.4)
        .select(col("vec_id"), col("label"))
    },

    // ---- embedding-cosine near-dup pairs (scoped all-pairs) ----
    // norm > 0 mirrors the operator's zero-vector guard
    QueryDef("q_embedding_neardup",
      """WITH e0 AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings WHERE vec_id < 500),
         e AS (SELECT vec_id, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         s AS (
           SELECT a.vec_id id_a, b.vec_id id_b,
             list_reduce(list_transform(list_zip(a.v, b.v),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                  (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                  (acc, x) -> acc + x))) AS cos
           FROM e a, e b WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(cos, 4) AS cos FROM s WHERE cos >= 0.4""") { (s, d) =>
      graft.dedup.Dedup.embeddingNearDup(
        t("embeddings")(s, d).filter(col("vec_id") < 500),
        "vec_id", "embedding", 0.4)
    },

    // ---- embedding near-dup, LSH-bucketed scale path (oracle-checked
    //      via the OracleAnn signature replay; planted-dup recall
    //      still measured in DedupSpec) ----
    QueryDef("q_embedding_neardup_lsh", OracleAnn.neardupLshSql) { (s, d) =>
      graft.dedup.Dedup.embeddingNearDupLsh(
        t("embeddings")(s, d), "vec_id", "embedding", 64, 0.4)
    },

    // ---- embedding near-dup, IVF cell-blocked scale path: the right
    //      blocker for clustered embeddings — candidate volume tracks
    //      the data's own density (oracle-checked: OracleAnn replays
    //      √n-cell training + multi-assignment blocking; recall vs
    //      exact ground truth still asserted in RECALL.json) ----
    QueryDef("q_embedding_neardup_ivf", OracleAnn.neardupIvfSql) { (s, d) =>
      graft.similarity.Ivf.cellNearDup(
        t("embeddings")(s, d), "vec_id", "embedding", 64, 0.4)
    },

    // ---- SemDeDup-shape semantic corpus collapse (Abbas et al.
    //      2023): connected components over the cosine near-dup
    //      graph, keep one representative (min id) per semantic
    //      cluster, emit the surviving ids. Same scoped all-pairs
    //      oracle path as q_embedding_neardup; the 100 TB path swaps
    //      in cellNearDup (IVF cells = the SemDeDup k-means step)
    //      for pair generation — the collapse algebra is identical ----
    // cosine pairs as in q_embedding_neardup, transitive closure as in
    // q_dedup_corpus; survivors = ids not collapsed into a smaller
    // cluster representative
    // norm > 0 mirrors the operator's zero-vector guard
    QueryDef("q_semantic_collapse",
      """WITH RECURSIVE e0 AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           FROM embeddings WHERE vec_id < 500),
         e AS (SELECT vec_id, v FROM e0
           WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
             (acc, x) -> acc + x)) > 0),
         s AS (
           SELECT a.vec_id id_a, b.vec_id id_b,
             list_reduce(list_transform(list_zip(a.v, b.v),
               p -> p[1] * p[2]), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                  (acc, x) -> acc + x))
              * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                  (acc, x) -> acc + x))) AS cos
           FROM e a, e b WHERE a.vec_id < b.vec_id),
         pp AS (SELECT id_a, id_b FROM s WHERE cos >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pp
                   UNION SELECT id_b, id_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cl AS (SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a)
         SELECT e0.vec_id FROM e0
         WHERE NOT EXISTS (SELECT 1 FROM cl
           WHERE cl.vec_id = e0.vec_id AND cl.cluster_id <> cl.vec_id)""") { (s, d) =>
      val emb = t("embeddings")(s, d).filter(col("vec_id") < 500)
      val pairs = graft.dedup.Dedup.embeddingNearDup(
        emb, "vec_id", "embedding", 0.4)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val losers = graft.dedup.Dedup.nearDupClusters(pairs)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("vec_id"))
      emb.select(col("vec_id")).join(losers, Seq("vec_id"), "left_anti")
    },

    // ---- multimodal frame sampling: 1 asset → N timestamped frames
    //      (rows-only; cadence/determinism proven in MultimodalSpec) ----
    // stub codec cadence is deterministic: duration = 10 ms/byte,
    // frames every 1000 ms, min 1 → n_frames = max(1, bytes // 100)
    QueryDef("q_multimodal_frames",
      """WITH a AS (SELECT doc_id AS asset_id,
                      octet_length(CAST(text AS BLOB)) AS nb
                    FROM documents WHERE doc_id < 50),
         n AS (SELECT asset_id, greatest(1, nb // 100) AS nf FROM a),
         f AS (SELECT asset_id, CAST(unnest(range(nf)) AS INT) AS frame_idx
               FROM n)
         SELECT asset_id, frame_idx,
           frame_idx * CAST(1000 AS BIGINT) AS ts_ms FROM f""") { (s, d) =>
      graft.multimodal.Multimodal.sampleFrames(s,
        graft.multimodal.Multimodal.assetsFromDocuments(
          t("documents")(s, d).filter(col("doc_id") < 50)))
        .toDF()
        .select("asset_id", "frame_idx", "ts_ms")
    },

    // ---- multimodal: binary payload + partition-parallel features ----
    QueryDef("q_multimodal_features",
      """SELECT doc_id AS asset_id,
         'application/octet-stream' AS mime,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         md5(text) AS content_hash
         FROM documents""") { (s, d) =>
      graft.multimodal.Multimodal.extractFeatures(s,
        graft.multimodal.Multimodal.assetsFromDocuments(t("documents")(s, d)))
        .toDF()
        .select("asset_id", "mime", "n_bytes", "content_hash")
    },

    // ---- audio windowing off the REAL decoded duration: each clip
    //      expands to one row per 250 ms of frames·1000/rate (header
    //      parse, never metadata trust) — the 1→N audio-preprocessing
    //      shape, partition-parallel, no shuffle ----
    // replays the cadence off the same decoded duration arithmetic:
    // dur = n·1000 // 8000, windows = max(1, dur // 250), final
    // window clipped to the clip end
    QueryDef("q_audio_windows",
      """WITH base AS (
           SELECT doc_id, 8000 + doc_id % 8000 AS n FROM documents),
         d AS (SELECT doc_id, n*1000 // 8000 AS dur FROM base),
         w AS (SELECT doc_id, greatest(1, dur // 250) AS nf, dur
               FROM d),
         f AS (SELECT doc_id AS asset_id,
                 CAST(unnest(range(nf)) AS INT) AS window_idx, dur
               FROM w)
         SELECT asset_id, window_idx,
           CAST(window_idx AS BIGINT) * 250 AS start_ms,
           least(CAST(window_idx + 1 AS BIGINT) * 250, dur) AS end_ms
         FROM f""") { (s, d) =>
      graft.multimodal.Multimodal.sampleAudioWindows(s,
        graft.multimodal.Multimodal.synthWavAssets(
          s, t("documents")(s, d)))
        .toDF()
    },

    // ---- REAL audio decode: synthesize genuine RIFF/WAVE payloads
    //      (javax.sound writes them), parse them back with the same
    //      library — header → format, streamed PCM frames → integer
    //      amplitude stats. 1→1 partition-parallel both ways, no
    //      shuffle; the deterministic integer waveform is what lets
    //      the oracle replay the DECODED stats to hash equality ----
    // replays the synthetic waveform (n = 8000 + id % 8000 samples,
    // s_i = ((id·40503 + i·2654435761) mod 65536) − 32768) and the
    // integer amplitude stats the REAL javax.sound decode produces —
    // a Spark-side container/codec bug (frame miscount, byte-order,
    // sign extension) breaks the hash
    QueryDef("q_audio_features",
      """WITH base AS (
           SELECT doc_id, 8000 + doc_id % 8000 AS n FROM documents),
         idx AS (SELECT doc_id, n,
                   unnest(generate_series(0, n - 1)) AS i FROM base),
         s AS (SELECT doc_id, n,
                 ((doc_id*40503 + i*2654435761) % 65536) - 32768 AS v
               FROM idx)
         SELECT doc_id AS asset_id, 8000 AS sample_rate,
           1 AS channels, 16 AS bits, n AS n_frames,
           n*1000 // 8000 AS duration_ms, max(abs(v)) AS peak,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs
         FROM s GROUP BY doc_id, n""") { (s, d) =>
      graft.multimodal.Multimodal.extractAudioFeatures(s,
        graft.multimodal.Multimodal.synthWavAssets(
          s, t("documents")(s, d)))
        .toDF()
    },

    // ---- audio perceptual fingerprint (Haitsma–Kalker delta bits
    //      over integer band-energy proxies) off REALLY-decoded WAV
    //      PCM: RIFF/WAVE container walk + streamed sample extract,
    //      33 windows → 32 energy-delta bits (lo) + 32
    //      first-difference-energy-delta bits (hi). Per-clip
    //      mapPartitions, no shuffle; the integer chain replays in
    //      the oracle bit for bit ----
    // replays the gid-keyed pair waveform + planted 4-sample bump +
    // windowed integer band energies + delta-sign bit packing — a
    // Spark-side WAV decode bug (byte order, sign extension, frame
    // miscount) or window-boundary bug breaks the hash
    QueryDef("q_audio_fingerprint", OracleAudioPrint.fingerprintSql) { (s, d) =>
      graft.multimodal.AudioPrint.audioprint64(s,
        graft.multimodal.AudioPrint.synthWavPairAssets(
          s, t("documents")(s, d))).toDF()
    },

    // ---- audio near-dup: the image family's banded radius-3 join
    //      on audio fingerprints (4×16-bit pigeonhole — exact, no
    //      all-pairs compare); planted pairs are (2k, 2k+1) clips
    //      sharing a waveform with 4 samples bumped ----
    // brute-force radius-3 pairing over the replayed fingerprints;
    // the Spark side's pigeonhole band join must emit the identical
    // exact set
    QueryDef("q_audio_neardup", OracleAudioPrint.neardupSql) { (s, d) =>
      graft.multimodal.AudioPrint.neardupPairs(
        graft.multimodal.AudioPrint.audioprint64(s,
          graft.multimodal.AudioPrint.synthWavPairAssets(
            s, t("documents")(s, d))).toDF())
    },

    // ---- audio similarity SEARCH: banded multi-probe candidacy
    //      (every clip sharing ≥ 1 of the probe's 4 pigeonhole
    //      bands) ranked by (hamming, id), cut to 5 with the
    //      bounded-heap top-k aggregate — map-side k-heaps,
    //      ≤ k-element exchange states, no window sort; the probe
    //      set is every 50th clip ----
    QueryDef("q_audio_search", OracleAudioPrint.searchSql) { (s, d) =>
      graft.multimodal.AudioPrint.bandedSearch(
        graft.multimodal.AudioPrint.audioprint64(s,
          graft.multimodal.AudioPrint.synthWavPairAssets(
            s, t("documents")(s, d))).toDF(),
        col("asset_id") % 50 === 0, k = 5)
    },

    // ---- audio STREAMING ingest gate, driver-replayed as two
    //      deterministic epochs: [[ImageIngest.gateBatch]] is
    //      hash-generic (any 64-bit hi/lo + the pigeonhole bands),
    //      so the audio gate IS the image gate over fingerprints —
    //      per-epoch CC representatives, cross-epoch band-index
    //      first-seen drop, the same replay-idempotent sink path ----
    QueryDef("q_audio_ingest_gate", OracleAudioPrint.ingestGateSql) { (s, d) =>
      import graft.multimodal.{AudioPrint, Phash}
      import graft.streaming.ImageIngest
      val hashes = AudioPrint.audioprint64(s,
          AudioPrint.synthWavPairAssets(s, t("documents")(s, d))).toDF()
        .select(col("asset_id"), col("fp_hi").as("ph_hi"),
          col("fp_lo").as("ph_lo"))
        .localCheckpoint() // consumed by both epochs' gates
      val e0 = hashes.filter(col("asset_id") % 3 === 0)
      val e1 = hashes.filter(col("asset_id") % 3 =!= 0)
      val kept0 = ImageIngest.gateBatch(s, e0, ImageIngest.emptyIndex(s))
      val index = Phash.bandRows(e0)
        .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
      val kept1 = ImageIngest.gateBatch(s, e1, index)
      kept0.withColumn("epoch", lit(0L))
        .unionByName(kept1.withColumn("epoch", lit(1L)))
        .select(col("asset_id"), col("epoch"),
          col("ph_hi").as("fp_hi"), col("ph_lo").as("fp_lo"))
    },

    // ---- audio near-dup CLUSTERS: connected components over the
    //      radius-3 fingerprint pair graph — the image clusters
    //      machinery on the audio modality ----
    QueryDef("q_audio_dedup_clusters", OracleAudioPrint.clustersSql) { (s, d) =>
      graft.dedup.Dedup.nearDupClusters(
        graft.multimodal.AudioPrint.neardupPairs(
          graft.multimodal.AudioPrint.audioprint64(s,
            graft.multimodal.AudioPrint.synthWavPairAssets(
              s, t("documents")(s, d))).toDF())
          .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
    },

    // ---- image similarity SEARCH: [[Phash.bandedSearch]] over
    //      pHashes — banded multi-probe candidacy ranked by
    //      (hamming, id), bounded-heap top-5, probes every 50th
    //      image (the audio search's machinery, image modality) ----
    QueryDef("q_image_search", OraclePhash.imageSearchSql) { (s, d) =>
      graft.multimodal.Phash.bandedSearch(
        graft.multimodal.Phash.phash64(s,
          graft.multimodal.Phash.synthGrayPngAssets(
            s, t("documents")(s, d))).toDF(),
        col("asset_id") % 50 === 0, k = 5)
    },

    // ---- video near-dup CLUSTERS: connected components over the
    //      radius-3 signature pair graph — completes the
    //      clusters-per-modality family (oracle chain already built
    //      for the manifest's video-keep column) ----
    QueryDef("q_video_dedup_clusters", OraclePhash.videoClustersSql) { (s, d) =>
      graft.dedup.Dedup.nearDupClusters(
        graft.multimodal.VideoPhash.neardupPairs(
          graft.multimodal.VideoPhash.signature(s,
            graft.multimodal.VideoPhash.synthPngAviAssets(
              s, t("documents")(s, d))).toDF())
          .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
    },

    // ---- video similarity SEARCH: [[Phash.bandedSearch]] over clip
    //      signatures — same banded candidacy + bounded-heap top-5,
    //      probes every 50th clip ----
    QueryDef("q_video_search", OraclePhash.videoSearchSql) { (s, d) =>
      graft.multimodal.Phash.bandedSearch(
        graft.multimodal.VideoPhash.signature(s,
          graft.multimodal.VideoPhash.synthPngAviAssets(
            s, t("documents")(s, d))).toDF()
          .select(col("asset_id"), col("sig_hi").as("ph_hi"),
            col("sig_lo").as("ph_lo")),
        col("asset_id") % 50 === 0, k = 5)
    },

    // ---- video STREAMING ingest gate, driver-replayed as two
    //      deterministic epochs — [[ImageIngest.gateBatch]] over clip
    //      signatures (hash-generic), closing the gate family across
    //      all three binary modalities ----
    QueryDef("q_video_ingest_gate", OraclePhash.videoIngestGateSql) { (s, d) =>
      import graft.multimodal.{Phash, VideoPhash}
      import graft.streaming.ImageIngest
      val hashes = VideoPhash.signature(s,
          VideoPhash.synthPngAviAssets(s, t("documents")(s, d))).toDF()
        .select(col("asset_id"), col("sig_hi").as("ph_hi"),
          col("sig_lo").as("ph_lo"))
        .localCheckpoint() // consumed by both epochs' gates
      val e0 = hashes.filter(col("asset_id") % 3 === 0)
      val e1 = hashes.filter(col("asset_id") % 3 =!= 0)
      val kept0 = ImageIngest.gateBatch(s, e0, ImageIngest.emptyIndex(s))
      val index = Phash.bandRows(e0)
        .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
      val kept1 = ImageIngest.gateBatch(s, e1, index)
      kept0.withColumn("epoch", lit(0L))
        .unionByName(kept1.withColumn("epoch", lit(1L)))
        .select(col("asset_id"), col("epoch"),
          col("ph_hi").as("sig_hi"), col("ph_lo").as("sig_lo"))
    },

    // ---- multimodal pretrain MANIFEST: the composition query — one
    //      keep/drop row per document across all four modalities
    //      (text exact first-seen; image/audio/video near-dup
    //      cluster representative). Adds no new hash math: each
    //      modality relation is the already-certified dedup pipeline,
    //      and the manifest certifies the COMPOSITION (four doc_id
    //      equi-joins over drop sets bounded by pair counts — one
    //      exchange domain, no new scale surface; excluded from the
    //      sweep because every part is already swept) ----
    // the cross-modality composition: each modality relation is the
    // already-certified cluster chain embedded as a derived table;
    // the manifest certifies the keep/drop composition itself
    QueryDef("q_multimodal_manifest", OracleManifest.manifestSql) { (s, d) =>
      import graft.multimodal.{AudioPrint, Phash, VideoPhash}
      import graft.dedup.Dedup
      val docs = t("documents")(s, d)
      val ids = docs.select(col("doc_id"))
      val textKeeps = Dedup.exactDedup(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), lit(true).as("tk"))
      def drops(pairs: DataFrame, flag: String): DataFrame =
        Dedup.nearDupClusters(
            pairs.select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id"), lit(false).as(flag))
      val img = drops(Phash.neardupPairs(Phash.phash64(s,
        Phash.synthGrayPngAssets(s, docs)).toDF()), "ik")
      val aud = drops(AudioPrint.neardupPairs(AudioPrint.audioprint64(s,
        AudioPrint.synthWavPairAssets(s, docs)).toDF()), "ak")
      val vid = drops(VideoPhash.neardupPairs(VideoPhash.signature(s,
        VideoPhash.synthPngAviAssets(s, docs)).toDF()), "vk")
      val flags = ids.join(textKeeps, Seq("doc_id"), "left")
        .join(img, Seq("doc_id"), "left")
        .join(aud, Seq("doc_id"), "left")
        .join(vid, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("tk"), lit(false)).as("text_keep"),
          coalesce(col("ik"), lit(true)).as("image_keep"),
          coalesce(col("ak"), lit(true)).as("audio_keep"),
          coalesce(col("vk"), lit(true)).as("video_keep"))
      flags.select(col("doc_id"), col("text_keep"), col("image_keep"),
        col("audio_keep"), col("video_keep"),
        (col("text_keep").cast("int") + col("image_keep").cast("int") +
          col("audio_keep").cast("int") + col("video_keep").cast("int"))
          .as("n_kept"),
        (col("text_keep") && col("image_keep") && col("audio_keep") &&
          col("video_keep")).as("keep_all"))
    },

    // ---- STREAMING multimodal manifest, driver-replayed as two
    //      deterministic epochs (doc_id % 3 — the gate queries'
    //      split): the ONE-PASS ingest composition of all four gates
    //      ([[MultimodalIngest.manifestBatch]]) emitting the batch
    //      manifest's keep/drop row per ARRIVING document — text
    //      first-seen fingerprint gate + the three banded-index
    //      modality gates, each probing only the earlier epoch's
    //      state. MultimodalIngestSpec pins single-batch parity with
    //      q_multimodal_manifest and the TableStore sink's replay
    //      idempotence; the oracle composes the four already-
    //      certified gate replays ----
    // the streaming composition: the four certified two-epoch gate
    // replays (text first-seen window + the three recursive-CTE band
    // gates) joined into one keep/drop row per arriving document
    QueryDef("q_multimodal_ingest", OracleManifest.ingestManifestSql) { (s, d) =>
      import graft.multimodal.{AudioPrint, Phash, VideoPhash}
      import graft.streaming.{ImageIngest, MultimodalIngest}
      val docs = t("documents")(s, d)
      val imgH = Phash.phash64(s,
        Phash.synthGrayPngAssets(s, docs)).toDF().localCheckpoint()
      val audH = AudioPrint.audioprint64(s,
          AudioPrint.synthWavPairAssets(s, docs)).toDF()
        .select(col("asset_id"), col("fp_hi").as("ph_hi"),
          col("fp_lo").as("ph_lo"))
        .localCheckpoint()
      val vidH = VideoPhash.signature(s,
          VideoPhash.synthPngAviAssets(s, docs)).toDF()
        .select(col("asset_id"), col("sig_hi").as("ph_hi"),
          col("sig_lo").as("ph_lo"))
        .localCheckpoint()
      def ep(h: DataFrame, e: Int): DataFrame =
        if (e == 0) h.filter(col("asset_id") % 3 === 0)
        else h.filter(col("asset_id") % 3 =!= 0)
      val m0 = MultimodalIngest.manifestBatch(s,
        docs.filter(col("doc_id") % 3 === 0),
        ep(imgH, 0), ep(audH, 0), ep(vidH, 0),
        MultimodalIngest.emptyTextSeen(s),
        ImageIngest.emptyIndex(s), ImageIngest.emptyIndex(s),
        ImageIngest.emptyIndex(s))
      val seen0 = docs.filter(col("doc_id") % 3 === 0)
        .select(graft.text.TextOps.fingerprint(col("text")).as("fp"))
        .distinct()
      def idx(h: DataFrame): DataFrame = Phash.bandRows(ep(h, 0))
        .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
      val m1 = MultimodalIngest.manifestBatch(s,
        docs.filter(col("doc_id") % 3 =!= 0),
        ep(imgH, 1), ep(audH, 1), ep(vidH, 1),
        seen0, idx(imgH), idx(audH), idx(vidH))
      m0.withColumn("epoch", lit(0L))
        .unionByName(m1.withColumn("epoch", lit(1L)))
        .select(col("doc_id"), col("epoch"), col("text_keep"),
          col("image_keep"), col("audio_keep"), col("video_keep"),
          col("n_kept"), col("keep_all"))
    },

    // ---- manifest REPAIR after compaction (VERDICT r14 Missing #3):
    //      the OFFLINE manifest recomputed from the ingest state
    //      tables alone — (doc_id, fp) text sightings + the three
    //      full band indexes (kept AND dropped sightings, so
    //      late-arriving linking members reconnect their chains).
    //      Certified by construction against the BATCH manifest
    //      oracle (q_multimodal_manifest's SQL, shared verbatim):
    //      state over the full corpus must reproduce the batch
    //      keep/drop row for every document, which is exactly the
    //      late-link repair contract. The TableStore CAS rewrite path
    //      ([[MultimodalIngest.recomputeManifest]]) is pinned in
    //      MultimodalIngestSpec with an online≠offline two-epoch case ----
    // the repair query's contract IS batch-manifest equality — the
    // oracle is shared verbatim (the q_ngram_containment_prefix
    // precedent: one oracle certifying two construction paths)
    QueryDef("q_multimodal_repair", OracleManifest.manifestSql) { (s, d) =>
      import graft.multimodal.{AudioPrint, Phash, VideoPhash}
      import graft.streaming.MultimodalIngest
      val docs = t("documents")(s, d)
      def bands(h: DataFrame): DataFrame = Phash.bandRows(h)
      val imgH = Phash.phash64(s,
        Phash.synthGrayPngAssets(s, docs)).toDF()
      val audH = AudioPrint.audioprint64(s,
          AudioPrint.synthWavPairAssets(s, docs)).toDF()
        .select(col("asset_id"), col("fp_hi").as("ph_hi"),
          col("fp_lo").as("ph_lo"))
      val vidH = VideoPhash.signature(s,
          VideoPhash.synthPngAviAssets(s, docs)).toDF()
        .select(col("asset_id"), col("sig_hi").as("ph_hi"),
          col("sig_lo").as("ph_lo"))
      MultimodalIngest.manifestOffline(s,
        docs.select(col("doc_id").cast("long").as("doc_id"),
          graft.text.TextOps.fingerprint(col("text")).as("fp")),
        bands(imgH), bands(audH), bands(vidH))
    },

    // ---- REAL video decode: synthesize genuine AVI-MJPEG containers
    //      (RIFF chunk tree + imageio-encoded JPEG frames), walk them
    //      back — avih header → cadence, movi 00dc chunks → per-frame
    //      JPEG header decode for REAL dimensions (which VARY by
    //      frame, so every individual frame decode is certified).
    //      1→1 partition-parallel, no shuffle; a chunk-walk bug
    //      (offset, size word, pad byte) breaks the hash ----
    // replays the AVI synthesis rule (nf = 4 + id % 12 frames at
    // 125000 µs cadence, frame f dims 16+((id+f)%4)·8 ×
    // 12+((id+2f)%3)·8) against the REAL container walk + per-frame
    // JPEG header decode — a chunk-offset or SOF-parse bug on the
    // Spark side breaks the hash
    QueryDef("q_video_features",
      """WITH base AS (SELECT doc_id, 4 + doc_id % 12 AS nf
           FROM documents),
         f AS (SELECT doc_id, nf,
                 CAST(unnest(range(nf)) AS BIGINT) AS fi FROM base),
         d AS (SELECT doc_id, nf,
                 16 + ((doc_id + fi) % 4) * 8 AS fw,
                 12 + ((doc_id + 2*fi) % 3) * 8 AS fh
               FROM f)
         SELECT doc_id AS asset_id, CAST(nf AS INT) AS n_frames,
           CAST(125000 AS BIGINT) AS us_per_frame,
           CAST(nf AS BIGINT) * 125000 // 1000 AS duration_ms,
           40 AS width, 28 AS height,
           CAST(sum(fw) AS BIGINT) AS sum_frame_w,
           CAST(sum(fh) AS BIGINT) AS sum_frame_h
         FROM d GROUP BY doc_id, nf""") { (s, d) =>
      graft.multimodal.Video.extractVideoFeatures(s,
        graft.multimodal.Video.synthAviAssets(s, t("documents")(s, d)))
        .toDF()
    },

    // ---- video frame-cadence expansion: 1→N flatMap off the real
    //      parsed container, one row per 00dc frame at
    //      ts = idx·usPerFrame/1000 with that frame's own decoded
    //      dims — the preprocessing shape of frame sampling ----
    // same synthesis rule at per-frame grain: cadence timestamps and
    // each frame's own decoded dimensions
    QueryDef("q_video_frames",
      """WITH base AS (SELECT doc_id, 4 + doc_id % 12 AS nf
           FROM documents),
         f AS (SELECT doc_id,
                 CAST(unnest(range(nf)) AS INT) AS frame_idx FROM base)
         SELECT doc_id AS asset_id, frame_idx,
           CAST(frame_idx AS BIGINT) * 125000 // 1000 AS ts_ms,
           CAST(16 + ((doc_id + frame_idx) % 4) * 8 AS INT) AS frame_w,
           CAST(12 + ((doc_id + 2*frame_idx) % 3) * 8 AS INT) AS frame_h
         FROM f""") { (s, d) =>
      graft.multimodal.Video.videoFrames(s,
        graft.multimodal.Video.synthAviAssets(s, t("documents")(s, d)))
        .toDF()
    },

    // ---- per-frame perceptual hashes over LOSSLESS video: genuine
    //      RIFF/AVI containers under the registered MPNG fourcc with
    //      real 32×32 grayscale PNG frames — full chunk walk + real
    //      per-frame imageio decode + the certified integer-DCT
    //      lattice (PNG round-trips exactly, so every frame hash
    //      replays bit for bit; MJPEG would put a lossy codec between
    //      the engines). Per-clip linear mapPartitions, no shuffle ----
    QueryDef("q_video_phash", OraclePhash.videoPhashSql) { (s, d) =>
      graft.multimodal.VideoPhash.framePhash(s,
        graft.multimodal.VideoPhash.synthPngAviAssets(
          s, t("documents")(s, d))).toDF()
    },

    // ---- clip signature: strict per-bit MAJORITY across the clip's
    //      frame hashes ({3,5,7} frames — odd, so no ties and no
    //      0-bias in the band histogram); a k-bit edit to one frame
    //      moves the signature at most k bits. Whole clip = one row,
    //      so the consensus is local — zero shuffle ----
    QueryDef("q_video_signature", OraclePhash.videoSignatureSql) { (s, d) =>
      graft.multimodal.VideoPhash.signature(s,
        graft.multimodal.VideoPhash.synthPngAviAssets(
          s, t("documents")(s, d))).toDF()
    },

    // ---- video near-dup: the image family's banded radius-3 join
    //      on clip signatures (4×16-bit pigeonhole — exact, no
    //      all-pairs compare); planted pairs are (2k, 2k+1) clips
    //      differing by one lightly-edited frame ----
    QueryDef("q_video_neardup", OraclePhash.videoNeardupSql) { (s, d) =>
      graft.multimodal.VideoPhash.neardupPairs(
        graft.multimodal.VideoPhash.signature(s,
          graft.multimodal.VideoPhash.synthPngAviAssets(
            s, t("documents")(s, d))).toDF())
    },

    // ---- DCT perceptual hash over REALLY-decoded grayscale PNGs:
    //      integer Q14 DCT on the decoded raster (PNG is lossless →
    //      the oracle replays the exact lattice; a decode bug breaks
    //      the hash). Per-image mapPartitions, no shuffle ----
    // pHash replayed from the synthesis lattice through the SAME
    // embedded Q14 cosine literals (OraclePhash): hash equality
    // certifies the real PNG decode AND the banded join's exactness
    QueryDef("q_image_phash", OraclePhash.phashSql) { (s, d) =>
      graft.multimodal.Phash.phash64(s,
        graft.multimodal.Phash.synthGrayPngAssets(s, t("documents")(s, d)))
        .toDF()
    },

    // ---- image near-dup: banded 64-bit pHash join (4×16-bit bands;
    //      pigeonhole makes radius-3 EXACT — no all-pairs compare),
    //      Hamming verification filter, pair emitted once. The
    //      image-modality twin of MinHash text dedup ----
    QueryDef("q_image_neardup", OraclePhash.neardupSql) { (s, d) =>
      graft.multimodal.Phash.neardupPairs(
        graft.multimodal.Phash.phash64(s,
          graft.multimodal.Phash.synthGrayPngAssets(
            s, t("documents")(s, d))).toDF())
    },

    // ---- image near-dup CLUSTERS: connected components over the
    //      radius-3 pHash pair graph (min-label propagation — the
    //      text neardup-clusters machinery on the image modality),
    //      each image labeled with its canonical smallest-id
    //      representative ----
    QueryDef("q_image_dedup_clusters", OraclePhash.clustersSql) { (s, d) =>
      graft.dedup.Dedup.nearDupClusters(
        graft.multimodal.Phash.neardupPairs(
          graft.multimodal.Phash.phash64(s,
            graft.multimodal.Phash.synthGrayPngAssets(
              s, t("documents")(s, d))).toDF())
          .select(col("id_1").as("doc_a"), col("id_2").as("doc_b")))
    },

    // ---- image STREAMING ingest gate, driver-replayed as two
    //      deterministic epochs (asset_id % 3 splits planted pairs
    //      both intra- and cross-epoch, in both arrival orders):
    //      per-epoch CC representatives, cross-epoch band-index
    //      first-seen drop — the ImageIngest.gateBatch semantics the
    //      streaming sink applies per micro-batch (ImageIngestSpec
    //      pins the foreachBatch/TableStore wiring) ----
    QueryDef("q_image_ingest_gate", OraclePhash.ingestGateSql) { (s, d) =>
      import graft.multimodal.Phash
      import graft.streaming.ImageIngest
      val hashes = Phash.phash64(s,
          Phash.synthGrayPngAssets(s, t("documents")(s, d))).toDF()
        .localCheckpoint() // consumed by both epochs' gates
      val e0 = hashes.filter(col("asset_id") % 3 === 0)
      val e1 = hashes.filter(col("asset_id") % 3 =!= 0)
      val kept0 = ImageIngest.gateBatch(s, e0, ImageIngest.emptyIndex(s))
      val index = Phash.bandRows(e0)
        .select(col("b"), col("v"), col("ph_hi"), col("ph_lo"))
      val kept1 = ImageIngest.gateBatch(s, e1, index)
      kept0.withColumn("epoch", lit(0L))
        .unionByName(kept1.withColumn("epoch", lit(1L)))
        .select(col("asset_id"), col("epoch"), col("ph_hi"), col("ph_lo"))
    },

    // ---- certified PLAN audit: a fixed list of stable queries is
    //      planned (never executed — deterministic pre-AQE physical
    //      plan) and reduced to physical-node counts the oracle pins
    //      as literal VALUES, so a plan regression (a broadcast gone
    //      sort-merge, a new exchange, an accidental cartesian) fails
    //      the correctness gate as a hash diff instead of waiting for
    //      a human .explain pass ----
    QueryDef("q_plan_audit", graft.plans.PlanMetrics.oracleSql) { (s, d) =>
      graft.plans.PlanMetrics.audit(s, d)
    },

    // ---- skip-gram co-occurrence counts (the word2vec/GloVe prep
    //      pass): ordered token pairs within a forward window of 2,
    //      generated MAP-SIDE from each token array (higher-order
    //      transform — the basket-pair discipline, no self-join),
    //      one hash agg, bounded top-k ----
    // forward-window-2 ordered pairs from 1-based list slices, the
    // same counts the map-side transform generates; total order
    // (n desc, w_a, w_b) makes the top-50 cut deterministic
    QueryDef("q_skipgram_pairs",
      """WITH t AS (SELECT regexp_extract_all(text, '\S+') toks
           FROM documents),
         g AS (SELECT flatten([
             [{'wa': toks[i], 'wb': toks[i+1]}
              for i in range(1, len(toks))],
             [{'wa': toks[i], 'wb': toks[i+2]}
              for i in range(1, len(toks)-1)]]) prs FROM t),
         e AS (SELECT unnest(prs) AS pr FROM g)
         SELECT pr.wa AS w_a, pr.wb AS w_b,
           CAST(count(*) AS BIGINT) AS n
         FROM e GROUP BY 1, 2
         ORDER BY n DESC, w_a ASC, w_b ASC LIMIT 50""") { (s, d) =>
      t("documents")(s, d)
        .select(graft.text.TextOps.tokens(col("text")).as("t"))
        .select(explode(expr(
          """flatten(transform(t, (x, i) ->
               transform(slice(t, i + 2, 2),
                 y -> struct(x AS w_a, y AS w_b))))""")).as("p"))
        .groupBy(col("p.w_a").as("w_a"), col("p.w_b").as("w_b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w_a").asc, col("w_b").asc)
        .limit(50)
    },

    // ---- Zipf-law fit over the token frequency distribution: the
    //      corpus-health diagnostic (natural text slopes ≈ −1;
    //      boilerplate/spam floods flatten or steepen it). The corpus
    //      reduces to ONE token-frequency hash agg and a bounded
    //      top-100 (TakeOrdered, checkpointed ≤ 100 rows); the
    //      log-log OLS runs on the 9-dp ln lattice (the lm_score
    //      cross-engine discipline) in exact decimals ----
    // rank/frequency 9-dp ln lattice (exact decimal ×1e9, the
    // lm_score discipline), then the identical HUGEINT OLS moments
    QueryDef("q_zipf_fit",
      """WITH t AS (SELECT regexp_extract_all(text, '\S+') toks
           FROM documents),
         e AS (SELECT unnest(toks) s FROM t),
         f AS (SELECT s, CAST(count(*) AS BIGINT) freq FROM e
               GROUP BY 1),
         tp AS (SELECT freq, row_number() OVER
                  (ORDER BY freq DESC, s ASC) AS rn
                FROM f QUALIFY rn <= 100),
         pts AS (SELECT
             CAST(CAST(round(ln(CAST(rn AS DOUBLE)), 9)
               AS DECIMAL(20,9)) * 1000000000 AS BIGINT) AS x,
             CAST(CAST(round(ln(CAST(freq AS DOUBLE)), 9)
               AS DECIMAL(20,9)) * 1000000000 AS BIGINT) AS y
           FROM tp),
         m AS (SELECT CAST(count(*) AS HUGEINT) n,
                 CAST(sum(x) AS HUGEINT) sx, CAST(sum(y) AS HUGEINT) sy,
                 CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) sxy,
                 CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) sxx,
                 CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) syy
               FROM pts)
         SELECT CAST(n AS BIGINT) AS n_ranks,
           CASE WHEN (n*sxx - sx*sx) > 0 THEN
             round(CAST(n*sxy - sx*sy AS DOUBLE)
               / CAST(n*sxx - sx*sx AS DOUBLE), 6)
           ELSE 0.0 END AS zipf_slope,
           CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
             round((CAST(n*sxy - sx*sy AS DOUBLE) *
                    CAST(n*sxy - sx*sy AS DOUBLE)) /
               (CAST(n*sxx - sx*sx AS DOUBLE) *
                CAST(n*syy - sy*sy AS DOUBLE)), 6)
           ELSE 0.0 END AS r2
         FROM m""") { (s, d) =>
      val dec = "decimal(38,0)"
      val top = t("documents")(s, d)
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok").asc)
        .limit(100)
        .localCheckpoint() // ≤ 100 rows
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("tok").asc)
      val pts = top
        .withColumn("rank", row_number().over(w))
        .select(
          (round(log(col("rank").cast("double")), 9)
            .cast("decimal(20,9)") * lit(1000000000L)).cast("long").as("x"),
          (round(log(col("freq").cast("double")), 9)
            .cast("decimal(20,9)") * lit(1000000000L)).cast("long").as("y"))
      pts
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("y")).as("sxy"),
          sum(col("x").cast(dec) * col("x")).as("sxx"),
          sum(col("y").cast(dec) * col("y")).as("syy"))
        .select(col("n").cast("long").as("n_ranks"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), 6))
            .otherwise(lit(0.0)).as("zipf_slope"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            round(((col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double") *
              (col("n") * col("sxy") - col("sx") * col("sy"))
                .cast("double")) /
              ((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
               (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6))
            .otherwise(lit(0.0)).as("r2"))
    },

    // ---- per-group OLS fit (slope + intercept + R²) through ONE
    //      exact-decimal moment aggregate — the q_corr_exact family
    //      completed: normal-equation numerators/denominators exact
    //      in narrow decimals (n ≤ 1e12 per group documented; dy hits
    //      the decimal(38) cap exactly like q_feature_scale's d),
    //      then a FIXED IEEE sequence (cast double, one multiply
    //      chain, one divide, round 6) both engines replay ----
    // normal-equation moments in HUGEINT (exact), then the identical
    // fixed IEEE sequence: cast double, multiply, divide, round 6
    QueryDef("q_linreg",
      """WITH base AS (SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice*100) AS BIGINT) AS y
           FROM lineitem),
         m AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(y) AS HUGEINT) AS sy,
                 CAST(sum(x*y) AS HUGEINT) AS sxy,
                 CAST(sum(x*x) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) AS syy
               FROM base GROUP BY 1),
         d AS (SELECT l_returnflag, n,
                 n*sxy - sx*sy AS num, n*sxx - sx*sx AS dx,
                 n*syy - sy*sy AS dy, sy*sxx - sx*sxy AS numi
               FROM m)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN dx > 0 THEN
             round(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE), 6)
           ELSE 0.0 END AS slope,
           CASE WHEN dx > 0 THEN
             round(CAST(numi AS DOUBLE) / CAST(dx AS DOUBLE), 6)
           ELSE 0.0 END AS intercept,
           CASE WHEN dx > 0 AND dy > 0 THEN
             round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) /
               (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
           ELSE 0.0 END AS r2
         FROM d""") { (s, d) =>
      val m = t("lineitem")(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("decimal(13,0)").as("n"),
          sum(col("x").cast("decimal(5,0)")).as("sx"),
          sum(col("y").cast("decimal(10,0)")).as("sy"),
          sum((col("x") * col("y")).cast("decimal(12,0)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(6,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(16,0)")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("dx"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("dy"),
          (col("sy") * col("sxx") - col("sx") * col("sxy")).as("numi"))
      // past-budget overflow (decimal(38) product → null) RAISES
      // instead of falling through `when(dx > 0)` to a silent
      // slope/intercept/r2 = 0.0 — the q_feature_scale discipline
      val overflow = col("dx").isNull || col("dy").isNull ||
        col("num").isNull || col("numi").isNull
      val raiseD = raise_error(lit("q_linreg: normal-equation moment " +
        "overflowed decimal(38) — group past the documented n<=1e12 " +
        "budget")).cast("double")
      m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        when(overflow, raiseD)
          .when(col("dx") > 0,
            round(col("num").cast("double") / col("dx").cast("double"), 6))
          .otherwise(lit(0.0)).as("slope"),
        when(overflow, raiseD)
          .when(col("dx") > 0,
            round(col("numi").cast("double") / col("dx").cast("double"), 6))
          .otherwise(lit(0.0)).as("intercept"),
        when(overflow, raiseD)
          .when(col("dx") > 0 && col("dy") > 0,
            round((col("num").cast("double") * col("num").cast("double")) /
              (col("dx").cast("double") * col("dy").cast("double")), 6))
          .otherwise(lit(0.0)).as("r2"))
    },

    // ---- ROC AUC by the tie-aware rank statistic, computed WITHOUT
    //      a global sort: fact rows reduce to one hash agg over the
    //      SCORE DOMAIN (≤ max-tokens distinct values, checkpointed
    //      bounded), a cumulative window over that bounded domain,
    //      and one final agg. 2U = Σ_s pos·(2·cumneg_below + neg)
    //      stays integral (ties contribute half wins ×2); auc_bp =
    //      HALF_UP(1e4·U/(n1·n0)) in pure decimal div — products in
    //      decimal(38,0) clear n1·n0 ≈ 1e24 where long wraps ----
    // tie-aware rank AUC over the score domain: same token/quality
    // predicates as q_confusion, same HALF_UP integer quotient
    QueryDef("q_auc",
      """WITH l AS (SELECT
             CAST(len(text) AS BIGINT) AS score,
             CASE WHEN len(regexp_extract_all(text, '\S+')) >= 30
               THEN 1 ELSE 0 END AS label
           FROM documents),
         b AS (SELECT score, CAST(sum(label) AS BIGINT) AS pos,
                 CAST(sum(1 - label) AS BIGINT) AS neg
               FROM l GROUP BY 1),
         c AS (SELECT score, pos, neg,
                 CAST(coalesce(sum(neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumneg
               FROM b),
         u AS (SELECT
                 sum(CAST(pos AS HUGEINT) * (cumneg*2 + neg)) AS u2,
                 CAST(sum(pos) AS BIGINT) AS n1,
                 CAST(sum(neg) AS BIGINT) AS n0
               FROM c)
         SELECT n1, n0,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             CAST((10000 * u2 + CAST(n1 AS HUGEINT) * n0)
               // (2 * CAST(n1 AS HUGEINT) * n0) AS BIGINT)
           ELSE CAST(5000 AS BIGINT) END AS auc_bp
         FROM u""") { (s, d) =>
      import graft.text.TextOps._
      // score = char length, label = the q_confusion truth predicate
      // (token count ≥ 30): correlated but not functionally tied, so
      // the AUC is a real separability number, not a degenerate 1.0
      // (qualityOk is all-one on this corpus — a one-class label
      // yields the 5000 bp no-discrimination convention below)
      val byScore = t("documents")(s, d)
        .select(length(col("text")).cast("long").as("score"),
          (tokenCount(col("text")) >= 30).cast("int").as("label"))
        .groupBy(col("score"))
        .agg(sum(col("label")).cast("long").as("pos"),
          sum(lit(1) - col("label")).cast("long").as("neg"))
        .localCheckpoint() // ≤ |score domain| rows
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
        .rowsBetween(Long.MinValue, -1)
      byScore
        .withColumn("cumneg", coalesce(sum(col("neg")).over(w), lit(0L)))
        .agg(
          sum(col("pos").cast("decimal(20,0)") *
            (col("cumneg") * 2 + col("neg"))).as("u2"),
          sum(col("pos")).as("n1"), sum(col("neg")).as("n0"))
        .select(col("n1"), col("n0"),
          expr("""CASE WHEN n1 > 0 AND n0 > 0 THEN
            CAST((10000 * u2 + CAST(n1 AS DECIMAL(20,0)) * n0)
              div (2 * CAST(n1 AS DECIMAL(20,0)) * n0) AS BIGINT)
            ELSE CAST(5000 AS BIGINT) END""").as("auc_bp"))
    },

    // ---- Herfindahl–Hirschman concentration per day over order-
    //      priority revenue shares: two hash aggs (fact → (day,
    //      priority) → day), zero joins — the second agg is
    //      calendar-bounded; hhi_bp = HALF_UP(1e4·Σc²/T²) exact in
    //      decimal. The concentration companion to gini/theil/pareto
    //      (share-of-squares, the antitrust/mix-diversity read) ----
    // two grouped aggregates, no join; HALF_UP(1e4·Σc²/T²) exact
    QueryDef("q_hhi",
      """WITH a AS (SELECT o_orderdate AS day, o_orderpriority,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
               AS HUGEINT) AS c
           FROM orders GROUP BY 1, 2),
         d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_categories,
                 sum(c) AS t, sum(c*c) AS s2
               FROM a GROUP BY 1)
         SELECT day, n_categories,
           CAST((2*10000*s2 + t*t) // (2*t*t) AS BIGINT) AS hhi_bp
         FROM d""") { (s, d) =>
      val a = t("orders")(s, d)
        .groupBy(col("o_orderdate").as("day"), col("o_orderpriority"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")
          .cast("decimal(10,0)")).as("c"))
      a.groupBy(col("day"))
        .agg(count(lit(1)).as("n_categories"),
          sum(col("c")).as("t"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("day"), col("n_categories"),
          expr("CAST((2 * 10000 * s2 + t * t) div (2 * t * t) AS BIGINT)")
            .as("hhi_bp"))
    },

    // ---- asymmetric near-dup: n-gram CONTAINMENT ≥ 0.8 pairs
    //      (|∩| / min(|A|,|B|)) — catches a small document pasted
    //      inside a large one, which Jaccard structurally misses.
    //      This direct all-pairs form is the VERIFICATION twin (it
    //      measured exp 2.0 over a hot-shingle decade); the prefix
    //      form below is the scale path, same output, same oracle ----
    QueryDef("q_ngram_containment", ngramContainmentSql) { (s, d) =>
      graft.dedup.Dedup.ngramContainmentPairs(
        t("documents")(s, d), "doc_id", "text", 3, 0.8)
    },

    // ---- the scale path: asymmetric prefix filtering (small-side
    //      prefixes join large-side full postings — hot shingles sort
    //      last in the rarest-first order and land in no prefix),
    //      exact verification; identical output by construction,
    //      certified by SHARING the direct form's oracle verbatim
    //      (the q_ngram_jaccard_prefix precedent) ----
    QueryDef("q_ngram_containment_prefix", ngramContainmentSql) { (s, d) =>
      graft.dedup.Dedup.ngramContainmentPairsPrefix(
        t("documents")(s, d), "doc_id", "text", 3, 0.8)
    },

    // ---- the PIPELINE ORDERING, certified (VERDICT r14 Next #2a):
    //      exact-dup collapse + MinHash-LSH near-dup collapse FIRST,
    //      containment-prefix on the survivors — the production
    //      answer for template-heavy corpora where replication
    //      inflates shingle document frequencies into the prefix
    //      candidate blowup (measured: 148.6k → 9.24M candidates over
    //      the raw corpus's first sweep decade). Oracle = all-pairs
    //      containment restricted to the near-dup survivor set (the
    //      q_dedup_corpus closure); the per-tier candidate
    //      reduction is recorded in history/pipeline_probe_*.json ----
    // the q_ngram_containment construction restricted to the
    // q_dedup_corpus survivor set (near-dup closure at Jaccard >= 0.8,
    // min-id representative per component): exact-first collapse in
    // the engine changes nothing here — exact duplicates carry
    // identical shingle sets, so dropping an exact group's non-min
    // members preserves every component and its min id. Heavy CTEs
    // are MATERIALIZED: g/p/sz each feed 2-3 consumers and DuckDB
    // re-evaluates multi-referenced CTEs per reference otherwise
    QueryDef("q_containment_pipeline",
      """WITH RECURSIVE t AS MATERIALIZED
           (SELECT doc_id, regexp_extract_all(text, '\S+') toks
            FROM documents),
         g AS MATERIALIZED
           (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
             THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   for i in range(1, len(toks) - 1)]
             ELSE [array_to_string(toks, ' ')] END) sh FROM t),
         e AS (SELECT doc_id, unnest(sh) s FROM g),
         p AS MATERIALIZED
           (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
         sz AS MATERIALIZED (SELECT doc_id, len(sh) n_sh FROM g),
         pp AS (SELECT p.doc_a, p.doc_b FROM p
                JOIN sz la ON la.doc_id = p.doc_a
                JOIN sz lb ON lb.doc_id = p.doc_b
                WHERE CAST(p.common AS DOUBLE)
                  / CAST(la.n_sh + lb.n_sh - p.common AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS a, doc_b AS b FROM pp
                   UNION SELECT doc_b, doc_a FROM pp),
         reach AS (
           SELECT a, b FROM edges
           UNION SELECT a, a FROM edges
           UNION SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         surv AS MATERIALIZED (SELECT d.doc_id FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM cl
             WHERE cl.doc_id = d.doc_id AND cl.cluster_id <> cl.doc_id))
         SELECT p.doc_a, p.doc_b,
           round(CAST(p.common AS DOUBLE)
             / CAST(least(la.n_sh, lb.n_sh) AS DOUBLE), 6) AS containment
         FROM p
         JOIN surv sa ON sa.doc_id = p.doc_a
         JOIN surv sb ON sb.doc_id = p.doc_b
         JOIN sz la ON la.doc_id = p.doc_a
         JOIN sz lb ON lb.doc_id = p.doc_b
         WHERE CAST(p.common AS DOUBLE)
             / CAST(least(la.n_sh, lb.n_sh) AS DOUBLE) >= 0.8""") { (s, d) =>
      graft.dedup.Dedup.containmentPipeline(
        t("documents")(s, d), "doc_id", "text", 3, 0.8)
    },

    // ---- feature hashing (the hashing-trick vectorizer): token →
    //      xxhash64 mod 64 bucket, per-document bucket counts — the
    //      constant-memory text vectorization every sparse-model
    //      pipeline uses. One explode + one hash agg, no vocabulary
    //      state at all; oracle replays Spark's exact xxhash64 via
    //      the OracleXxh64 machinery ----
    // feature hashing: Spark's xxhash64 replayed through the same
    // OracleXxh64 CTE machinery, joined back PER OCCURRENCE (strh,
    // not the set-semantics hx) so bucket counts are term
    // frequencies; hu % 64 ≡ pmod(signed, 64) since 2^64 ≡ 0 mod 64
    QueryDef("q_feature_hash", (
        """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') toks
             FROM documents),
           e AS (SELECT doc_id, unnest(toks) s FROM t),""" +
          OracleXxh64.hashCtes + """
           SELECT e.doc_id, CAST(hu % 64 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS tf
           FROM e JOIN strh ON e.s = strh.s
           GROUP BY 1, 2""")) { (s, d) =>
      t("documents")(s, d)
        .select(col("doc_id"),
          explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"),
          pmod(xxhash64(col("tok")), lit(64L)).as("bucket"))
        .agg(count(lit(1)).as("tf"))
    },

    // ---- argmax-row aggregation (keep-best-per-key): ONE hash
    //      aggregation via lexicographic max(struct) — no window, no
    //      per-key sort; ties on price resolve to the larger orderkey,
    //      so the result is deterministic ----
    // window-free in Spark (one max(struct) hash-agg); the oracle
    // reproduces the same winner with the standard row_number form —
    // DESC,DESC matches the lexicographic-max tie rule
    QueryDef("q_latest_order",
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
         FROM orders)
         SELECT o_custkey, o_orderkey AS top_orderkey,
           o_totalprice AS top_price
         FROM r WHERE rn = 1""") { (s, d) =>
      t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"),
          col("m").getField("o_orderkey").as("top_orderkey"),
          col("m").getField("o_totalprice").as("top_price"))
    },

    // ---- quantile bucketing per group (partitioned ntile — never a
    //      single global sort) ----
    QueryDef("q_ntile",
      """SELECT event_id, event_type,
         ntile(4) OVER (PARTITION BY event_type
           ORDER BY value ASC, event_id ASC) AS quartile
         FROM events WHERE value IS NOT NULL""") { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc, col("event_id").asc)
      t("events")(s, d)
        .na.drop(Seq("value"))
        .select(col("event_id"), col("event_type"),
          ntile(4).over(w).as("quartile"))
    },

    // ---- token-window document chunking (context-window prep):
    //      40-token chunks, 10-token overlap; one shuffle-free pass,
    //      tokens materialized once per doc under the explode ----
    QueryDef("q_doc_chunks",
      """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
                    FROM documents),
         c AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest([x for x in range(0, greatest(len(toks), 1), 30)
                         if x = 0 OR x + 10 < len(toks)]) AS start
               FROM t)
         SELECT doc_id, start // 30 AS chunk_idx,
           array_to_string(toks[start+1 : start+40], ' ') AS chunk_text,
           least(40, n - start) AS n_chunk_tokens
         FROM c""") { (s, d) =>
      graft.text.TextOps.chunkTokens(
        t("documents")(s, d), "doc_id", "text", 40, 10)
    },

    // ---- backward AS-OF join (operator Spark lacks natively): each
    //      click is enriched with the user's most recent prior purchase.
    //      One shuffle + window carry — never a per-key nested loop;
    //      oracle is DuckDB's native ASOF LEFT JOIN, an independent
    //      implementation of the same semantic ----
    // DuckDB's native ASOF LEFT JOIN — an independent implementation of
    // the backward as-of semantic (inclusive: c.ts >= p.purchase_ts)
    QueryDef("q_asof_join",
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click' AND user_id IS NOT NULL),
         p AS (SELECT user_id, ts AS purchase_ts,
                 max(value) AS purchase_value
               FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL
               GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.ts, p.purchase_ts, p.purchase_value
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.purchase_ts""") { (s, d) =>
      val (clicks, purchases) = clicksAndPurchases(s, d)
      graft.ops.TemporalJoins.asOfJoin(
        clicks, purchases, Seq("user_id"), "ts", "purchase_ts")
    },

    // ---- forward AS-OF join: each click is paired with the user's
    //      NEXT purchase at-or-after it (time-to-conversion shape) ----
    // forward direction: DuckDB ASOF picks the smallest right time
    // satisfying c.ts <= p.purchase_ts
    QueryDef("q_asof_forward",
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click' AND user_id IS NOT NULL),
         p AS (SELECT user_id, ts AS purchase_ts,
                 max(value) AS purchase_value
               FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL
               GROUP BY 1, 2)
         SELECT c.event_id, c.user_id, c.ts, p.purchase_ts, p.purchase_value
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts <= p.purchase_ts""") { (s, d) =>
      val (clicks, purchases) = clicksAndPurchases(s, d)
      graft.ops.TemporalJoins.asOfJoinForward(
        clicks, purchases, Seq("user_id"), "ts", "purchase_ts")
    },

    // ---- banded RANGE join: per-user event pairs within one hour,
    //      planned as ONE equi-join on (user, time-bucket) + residual
    //      filter instead of Spark's nested-loop plan for the raw
    //      inequality ----
    // ---- interval-OVERLAP join: per-user processing windows
    //      [ts, ts + (1 + id % 37) min] that intersect — each interval
    //      explodes to its covered bins, one equi-join on (user, bin),
    //      and the canonical-bucket rule (keep the pair only in the
    //      bin holding max(start_a, start_b)) makes it dedupe-free ----
    // the oracle states the overlap predicate directly; micros derive
    // via epoch_ns // 1000, the q_funnel_latency precedent for the
    // nanos-typed events timestamps
    QueryDef("q_interval_overlap",
      """WITH iv AS (SELECT user_id, event_id AS id,
           epoch_ns(ts) // 1000 AS s,
           epoch_ns(ts) // 1000 + (1 + event_id % 37) * 60000000 AS e
         FROM events WHERE user_id IS NOT NULL)
         SELECT a.user_id, a.id AS id_a, b.id AS id_b
         FROM iv a JOIN iv b
           ON a.user_id = b.user_id AND a.id < b.id
          AND a.s <= b.e AND b.s <= a.e""") { (s, d) =>
      val ev = t("events")(s, d).filter(col("user_id").isNotNull)
      def iv(suffix: String) = ev.select(
        col("user_id"), col("event_id").as(s"id_$suffix"),
        unix_micros(col("ts")).as(s"s_$suffix"),
        (unix_micros(col("ts")) +
          (lit(1L) + pmod(col("event_id"), lit(37L))) * lit(60000000L))
          .as(s"e_$suffix"))
      graft.ops.TemporalJoins.intervalOverlapJoin(
          iv("a"), iv("b"), Seq("user_id"),
          "s_a", "e_a", "s_b", "e_b",
          binWidth = 2400L * 1000000L) // 40 min bins ≥ max interval
        .filter(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"))
    },

    QueryDef("q_range_join",
      """WITH e AS (SELECT event_id, user_id, ts FROM events
                    WHERE user_id IS NOT NULL)
         SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
         FROM e a JOIN e b
           ON a.user_id = b.user_id
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 3600 SECOND""") { (s, d) =>
      val ev = t("events")(s, d).filter(col("user_id").isNotNull)
      val a = ev.select(
        col("event_id").as("id_a"), col("user_id"), col("ts").as("ts_a"))
      val b = ev.select(
        col("event_id").as("id_b"), col("user_id"), col("ts").as("ts_b"))
      graft.ops.TemporalJoins.bandJoin(
          a, b, Seq("user_id"), "ts_a", "ts_b", 3600L)
        .select(col("user_id"), col("id_a"), col("id_b"))
    },

    // ---- rolling event-time RANGE frame: per-user trailing-1-hour
    //      sum/count at every event. One shuffle on user_id; the frame
    //      is O(1) amortized per row (sliding, not recomputed). Sums
    //      run on integer cents so the result is independent of
    //      FP addition order — a window sum of doubles is not ----
    // integer-cent sums: a rolling sum of doubles depends on addition
    // order (segment-tree vs streaming) and would not hash-match.
    // DuckDB types sum(BIGINT) as HUGEINT; cast back so the driver's
    // type-sensitive hash compares BIGINT to BIGINT.
    QueryDef("q_rolling_window",
      """WITH e AS (SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents
         FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL)
         SELECT event_id, user_id,
           CAST(sum(cents) OVER w AS BIGINT) AS roll_cents,
           count(*) OVER w AS roll_n
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""") { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc)
        .rangeBetween(-3600L * 1000000L, 0L)
      t("events")(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), col("user_id"),
          sum(col("cents")).over(w).as("roll_cents"),
          count(lit(1)).over(w).as("roll_n"))
    },

    // ---- time-weighted average event value per user (TWAP): each
    //      value weighted by how long it held (until the user's next
    //      event, integer microseconds), cents-scaled so numerator
    //      and denominator are exact longs and the one finishing
    //      division is IEEE-identical cross-engine ----
    // integer cents × integer microsecond weights — numerator and
    // denominator exact; the two finishing divisions and the round
    // are the same IEEE ops in both engines
    QueryDef("q_twap",
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
         d AS (
           SELECT user_id, cents,
             lead(us) OVER (PARTITION BY user_id
               ORDER BY us, event_id) - us AS dur
           FROM e)
         SELECT user_id,
           round(CAST(sum(cents * dur) AS DOUBLE)
             / CAST(sum(dur) AS DOUBLE) / 100.0, 6) AS twap,
           CAST(sum(dur) AS BIGINT) AS span_us
         FROM d WHERE dur IS NOT NULL
         GROUP BY 1 HAVING sum(dur) > 0""") { (s, d) =>
      graft.ops.TimeWeighted.timeWeightedAvg(
          t("events")(s, d)
            .withColumn("cents", round(col("value") * 100).cast("long")),
          col("user_id"), col("ts"), col("event_id"), col("cents"))
        .select(col("key").as("user_id"),
          round(col("twa") / 100.0, 6).as("twap"),
          col("span_us"))
    },

    // ---- order-free table fingerprint: sum of 60-bit md5 row keys
    //      mod 2^53-1 — any engine, any layout, any row order gives
    //      the identical (n_rows, checksum); the migration-validation
    //      handshake (one map-side pass, single-row result). Money
    //      rides as integer cents (float formatting is where engines
    //      diverge — the operator contract) ----
    // chr(31)/chr(1) are the engine's separator and null-sentinel
    // bytes; 15 hex chars = 60 bits fit BIGINT, the modular
    // sum runs in HUGEINT — both sides exact end to end
    QueryDef("q_table_checksum",
      """WITH r AS (
           SELECT CAST(('0x' || substr(md5(
             concat_ws(chr(31),
               coalesce(CAST(l_orderkey AS VARCHAR), chr(1)),
               coalesce(CAST(l_linenumber AS VARCHAR), chr(1)),
               coalesce(l_returnflag, chr(1)),
               coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                 AS VARCHAR), chr(1)))), 1, 15)) AS BIGINT) AS u
           FROM lineitem)
         SELECT count(*) AS n_rows,
           CAST(sum(u::HUGEINT) % 9007199254740991::HUGEINT AS BIGINT)
             AS checksum
         FROM r""") { (s, d) =>
      graft.ops.DataQuality.tableChecksum(
        t("lineitem")(s, d),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long")))
    },

    // ---- top session paths: the first 5 event types of each 30-min
    //      session joined '>'-wise, counted across sessions — the
    //      "what do users actually do" path table. Ordered string
    //      assembly via the collect/sort/slice fold (user-partitioned
    //      windows; the EWMA sequential-fold discipline) ----
    // same gaps-and-islands session rule as q_events_sessions; the
    // path is the (ts, event_id)-ordered type prefix, so string_agg
    // with that ORDER BY replays the engine's sort/slice fold
    QueryDef("q_top_paths",
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         m AS (
           SELECT *, CASE WHEN lag(us) OVER w IS NULL
               OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
               AS ns
           FROM e WINDOW w AS (
             PARTITION BY user_id ORDER BY us, event_id)),
         s AS (
           SELECT *, sum(ns) OVER (PARTITION BY user_id
             ORDER BY us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM m),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY user_id, sid
             ORDER BY us, event_id) AS rn
           FROM s),
         p AS (
           SELECT string_agg(event_type, '>' ORDER BY us, event_id)
             AS path
           FROM rk WHERE rn <= 5 GROUP BY user_id, sid)
         SELECT path, count(*) AS n_sessions
         FROM p GROUP BY 1 HAVING count(*) >= 3""") { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val ev = t("events")(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("ns",
          when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) >= 1800L * 1000000L,
            1L).otherwise(0L))
        .withColumn("sid", sum(col("ns")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
      ev.groupBy(col("user_id"), col("sid"))
        .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
          col("event_type")))).as("h"))
        .select(array_join(
          transform(slice(col("h"), 1, 5), e => e.getField("event_type")),
          ">").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .filter(col("n_sessions") >= 3)
    },

    // ---- daily new vs returning users + cumulative reach: first-seen
    //      day per user (one user-keyed exchange over the bulk), then
    //      all remaining work — the day-level join and the running
    //      total — happens on day-cardinality rows (bounded by the
    //      calendar, not the corpus; the q_event_anomaly envelope) ----
    QueryDef("q_new_users",
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         fs AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
         npd AS (SELECT day, count(*) AS n_new FROM fs GROUP BY 1),
         apd AS (SELECT day, count(*) AS n_active
                 FROM (SELECT DISTINCT user_id, day FROM ev) GROUP BY 1)
         SELECT apd.day, coalesce(npd.n_new, 0) AS n_new,
           apd.n_active - coalesce(npd.n_new, 0) AS n_returning,
           CAST(sum(coalesce(npd.n_new, 0)) OVER (ORDER BY apd.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
         FROM apd LEFT JOIN npd ON apd.day = npd.day""") { (s, d) =>
      val ev = t("events")(s, d)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val newPerDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      val activePerDay = ev.distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      activePerDay
        .join(newPerDay, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"),
          (col("n_active") - coalesce(col("n_new"), lit(0L)))
            .as("n_returning"))
        .withColumn("cum_users", sum(col("n_new")).over(w))
    },

    // ---- EWMA smoothing per user: the classic recurrence run as an
    //      identical sequential fold in both engines (collect_list →
    //      array_sort → aggregate here; list(ORDER BY) → list_reduce
    //      in the oracle), so even an order-sensitive float recursion
    //      hash-matches ----
    // list_reduce without an init starts at the first element — the
    // s1 = x1 seed — and then executes the same mult/mult/add chain
    // in the same order as the engine's aggregate() fold
    QueryDef("q_ewma",
      """WITH e AS (
           SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(value AS DOUBLE) AS x
           FROM events
           WHERE user_id IS NOT NULL AND ts IS NOT NULL
             AND value IS NOT NULL),
         h AS (
           SELECT user_id, list(x ORDER BY us, event_id) AS xs
           FROM e GROUP BY 1)
         SELECT user_id,
           round(list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
             AS ewma,
           CAST(len(xs) AS INTEGER) AS n_samples
         FROM h""") { (s, d) =>
      graft.ops.Ewma.ewmaLast(
          t("events")(s, d), col("user_id"), col("ts"), col("event_id"),
          col("value"), alphaNum = 1, alphaDen = 4)
        .select(col("key").as("user_id"),
          round(col("ewma"), 6).as("ewma"), col("n_samples"))
    },

    // ---- time-bucket downsampling (OHLC bars): per user-hour
    //      open/close via min/max over (ts, event_id, value) structs —
    //      a one-shuffle hash aggregate, never a sort or window;
    //      event_id breaks timestamp ties deterministically ----
    QueryDef("q_ohlc_bars",
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr, ts,
           event_id, value
         FROM events
         WHERE user_id IS NOT NULL AND value IS NOT NULL
           AND ts IS NOT NULL),
         r AS (SELECT *,
           row_number() OVER (PARTITION BY user_id, hr
             ORDER BY ts ASC, event_id ASC) AS rn_a,
           row_number() OVER (PARTITION BY user_id, hr
             ORDER BY ts DESC, event_id DESC) AS rn_d
         FROM e)
         SELECT user_id, hr,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           max(value) AS high, min(value) AS low,
           count(*) AS n_events
         FROM r GROUP BY 1, 2""") { (s, d) =>
      t("events")(s, d)
        .filter(col("user_id").isNotNull && col("value").isNotNull &&
          col("ts").isNotNull)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_events"))
    },

    // ---- salted join for skewed keys: same rows as the plain join
    //      (the oracle), but each hot key fans out over 16 reducers;
    //      the planner-independent twin of AQE's skew split ----
    QueryDef("q_skew_salted_join",
      """SELECT s_name, round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n_items
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1""") { (s, d) =>
      val li = t("lineitem")(s, d)
      val sup = t("supplier")(s, d)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.ops.SkewJoin.saltedJoin(li, sup, Seq("l_suppkey"), 16,
          saltSource = struct(col("l_orderkey"), col("l_linenumber")))
        .groupBy(col("s_name"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
    },

    // ---- deterministic content-hash sampling: ~1/16 of lineitem keyed
    //      on md5(orderkey-linenumber) — reproducible on any cluster
    //      layout and any md5-agreeing engine, unlike rand()/sample()
    QueryDef("q_sample_hash",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem
         WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                          CAST(l_linenumber AS VARCHAR)), 1, 2) < '10'""") { (s, d) =>
      graft.ops.Sampling.hashSample(
          t("lineitem")(s, d),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")), 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"))
    },

    // ---- weight-proportional Poisson sampling: keep probability
    //      min(1, k·w/W) decided by an INTEGER-EXACT compare on the
    //      first 48 md5 bits (u·W < k·w·2^48 in decimal arithmetic) —
    //      one literal-folded total-weight agg, then a pure scan
    //      filter: zero shuffle, heavy rows (p clamped at 1) can
    //      never be lost to hash luck ----
    // u·W < k·w·2^48 in HUGEINT — the same integer compare the engine
    // evaluates in DECIMAL(38,0); both exact, so the kept set matches
    // bit-for-bit
    QueryDef("q_weighted_sample",
      """WITH tot AS (
           SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS w
           FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem, tot
         WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT)::HUGEINT
               * tot.w
             < 1000::HUGEINT * CAST(l_quantity AS HUGEINT)
               * 281474976710656::HUGEINT""") { (s, d) =>
      graft.ops.Sampling.weightedSample(
          t("lineitem")(s, d),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          col("l_quantity"), expectedK = 1000L)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
    },

    // ---- stratified hash sampling: per-stratum keep rates (the corpus
    //      rebalancing move: downsample the common, keep the rare) ----
    QueryDef("q_sample_stratified",
      """SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem
         WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 2)) AS INTEGER) <
           CASE l_returnflag WHEN 'N' THEN 8 WHEN 'R' THEN 32 ELSE 64 END""") { (s, d) =>
      graft.ops.Sampling.stratifiedHashSample(
          t("lineitem")(s, d),
          concat_ws("-", col("l_orderkey"), col("l_linenumber")),
          col("l_returnflag"),
          Map("N" -> 8, "R" -> 32), defaultRate256 = 64)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    },

    // ---- pivot (wide aggregation): explicit pivot values, so the plan
    //      is a single pass with no distinct-values pre-job ----
    QueryDef("q_pivot",
      """SELECT l_returnflag,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS F,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS O
         FROM lineitem GROUP BY l_returnflag""") { (s, d) =>
      t("lineitem")(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
    },

    // ---- semi-structured JSON extraction: typed from_json over the
    //      events props payload (schema-on-read for event streams) ----
    // TRY_CAST mirrors from_json's null-on-mismatch semantic (a plain
    // CAST would hard-error on a non-integral payload instead of
    // dropping the row). Boundary note: a string-encoded "5" would be
    // coerced by json_extract_string but nulled by from_json's typed
    // schema — the driver fixture's props are numeric-only
    QueryDef("q_json_extract",
      """WITH e AS (SELECT event_id, event_type,
                      TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
                    FROM events)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k, max(k) AS max_k
         FROM e WHERE k IS NOT NULL GROUP BY event_type""") { (s, d) =>
      t("events")(s, d)
        .select(col("event_id"), col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // ---- BPE vocabulary induction (Sennrich 2016): one shuffle for
    //      word-type counts + a driver merge loop over the bounded
    //      table; deterministic, golden-pinned (BpeSpec) AND
    //      oracle-checked — OracleBpe unrolls the merge loop round by
    //      round in DuckDB SQL ----
    // BPE merge induction unrolled round by round in DuckDB
    // (OracleBpe): pair-count agg → total-order argmax → greedy
    // merge-as-string-replace, 64 rounds — the LAST no-oracle
    // query; the whole surface is now hash-certified
    QueryDef("q_bpe_vocab", OracleBpe.bpeVocabSql(64, 20000)) { (s, d) =>
      graft.text.Bpe.vocabDf(s, bpeMerges.refresh(s, d))
    },

    // ---- apply the learned vocab: shuffle-free codegen'd segmentation
    //      (BpeTokens expression; the codec rides via addReferenceObj)
    // q_bpe_vocab: no SQL oracle — BPE's merge LOOP is iterative-global
    // (each merge changes the statistics the next ranks on); pinned by
    // BpeSpec's sequential-reference model test and a committed sf0.01
    // golden.
    //
    // q_doc_bpe_apply: the APPLY side does have a SQL form. The merge
    // table is deterministic and bounded (64 merges, separately pinned
    // by the q_bpe_vocab golden), so it is inlined below as VALUES —
    // the correctness pass always runs at sf0.01, the scale it was
    // induced at. DuckDB then replays Codec.encodeWord exactly: each
    // word is encoded as a doubled-space symbol string ('  s1  s2  ';
    // space can never occur inside a \S+ token), and each recursion
    // step applies ALL left-to-right non-overlapping occurrences of the
    // LOWEST-rank applicable pair via replace() on the pattern
    // ' l  r ' — the single-space flanks keep a match from consuming
    // its neighbor's boundary, which is what makes adjacent
    // occurrences ('a a a' under (a,a)) merge greedily like the codec.
    QueryDef("q_doc_bpe_apply",
      """WITH RECURSIVE
           merges(rnk, l, r) AS (VALUES
             (0,'e','r'),(1,'e','</w>'),(2,'n','</w>'),(3,'er','</w>'),
             (4,'o','w'),(5,'ow','</w>'),(6,'o','r'),(7,'s','t'),(8,'h','</w>'),
             (9,'a','t'),(10,'l','u'),(11,'i','n'),(12,'a','</w>'),
             (13,'g','</w>'),(14,'y','</w>'),(15,'a','r'),(16,'p','ar'),
             (17,'t','</w>'),(18,'i','n</w>'),(19,'j','o'),(20,'jo','in</w>'),
             (21,'a','s'),(22,'as','h</w>'),(23,'h','ash</w>'),
             (24,'r','ow</w>'),(25,'at','c'),(26,'atc','h</w>'),
             (27,'b','atch</w>'),(28,'a','n</w>'),(29,'c','an</w>'),
             (30,'s','can</w>'),(31,'c','o'),(32,'c','u'),(33,'co','lu'),
             (34,'colu','m'),(35,'colum','n</w>'),(36,'cu','st'),
             (37,'cust','o'),(38,'custo','m'),(39,'custom','er</w>'),
             (40,'f','i'),(41,'fi','l'),(42,'fil','t'),(43,'filt','er</w>'),
             (44,'a','l'),(45,'al','l'),(46,'all','</w>'),(47,'m','all</w>'),
             (48,'s','mall</w>'),(49,'er','g'),(50,'erg','e</w>'),
             (51,'l','ow</w>'),(52,'m','erge</w>'),(53,'s','low</w>'),
             (54,'c','t'),(55,'ct','or'),(56,'ctor','</w>'),(57,'d','er</w>'),
             (58,'e','ctor</w>'),(59,'or','der</w>'),(60,'v','ector</w>'),
             (61,'in','e</w>'),(62,'l','ine</w>'),(63,'a','b')),
           doc_tokens AS (
             SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS w
             FROM documents),
           word_freq AS (
             SELECT doc_id, w, count(*) AS n FROM doc_tokens GROUP BY doc_id, w),
           words AS (SELECT DISTINCT w FROM doc_tokens),
           enc0 AS (
             SELECT w, '  ' || array_to_string(regexp_extract_all(w, '.'), '  ')
                      || '  </w>  ' AS enc
             FROM words),
           rec AS (
             SELECT w, enc, 0 AS step FROM enc0
             UNION ALL
             SELECT q.w,
               replace(q.enc, ' ' || q.l || '  ' || q.r || ' ',
                       ' ' || q.l || q.r || ' ') AS enc,
               q.step + 1
             FROM (
               SELECT rc.w, rc.enc, rc.step, m.l, m.r,
                 row_number() OVER (PARTITION BY rc.w ORDER BY m.rnk) AS rn
               FROM rec rc JOIN merges m
                 ON position(' ' || m.l || '  ' || m.r || ' ' IN rc.enc) > 0) q
             WHERE q.rn = 1),
           final AS (
             SELECT w, enc FROM rec
             QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1),
           enc_stats AS (
             SELECT w, len(regexp_extract_all(enc, '[^ ]+')) AS k,
               regexp_extract(enc, '[^ ]+') AS first_sym
             FROM final),
           per_doc AS (
             SELECT f.doc_id, CAST(sum(f.n * e.k) AS BIGINT) AS n_tok
             FROM word_freq f JOIN enc_stats e ON f.w = e.w GROUP BY f.doc_id),
           first_tok AS (
             SELECT d.doc_id, e.first_sym AS first_token
             FROM (SELECT doc_id, regexp_extract(lower(text), '\S+') AS w0
                   FROM documents WHERE regexp_matches(lower(text), '\S')) d
             JOIN enc_stats e ON d.w0 = e.w)
         SELECT d.doc_id,
           CAST(COALESCE(p.n_tok, 0) AS INTEGER) AS n_bpe_vocab_tokens,
           ft.first_token
         FROM documents d
         LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         LEFT JOIN first_tok ft ON d.doc_id = ft.doc_id""") { (s, d) =>
      val codec = new graft.text.Bpe.Codec(bpeMerges(s, d))
      t("documents")(s, d)
        .select(col("doc_id"),
          graft.functions.GraftFunctions.bpeTokens(col("text"), codec)
            .as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_bpe_vocab_tokens"),
          // get(), not element_at(): a whitespace-only doc tokenizes to
          // [] and element_at([], 1) THROWS under ANSI mode (Spark 4
          // default); get is null-safe (0-based)
          get(col("toks"), lit(0)).as("first_token"))
    },

    // ---- domain mixing: solve per-source keep rates for a target
    //      mixture (binding stratum kept whole), apply as deterministic
    //      hash sampling; achieved mixture is the output ----
    // Mirrors Sampling.mixtureRates double-for-double: targets sum to
    // 1.0 so the Scala p/total normalization is exact; every literal is
    // CAST AS DOUBLE because DuckDB types bare decimals as DECIMAL and
    // decimal division would diverge from the Scala double math; the
    // +1e-9 replays the binding-stratum floor guard; targets drive the
    // frame (LEFT JOIN counts, COALESCE 0) so a target stratum absent
    // from the data binds T to 0 exactly like the Scala solver.
    QueryDef("q_domain_mix",
      """WITH tgt(s, p) AS (VALUES
           ('src0', CAST(0.5 AS DOUBLE)),
           ('src1', CAST(0.25 AS DOUBLE)),
           ('src2', CAST(0.25 AS DOUBLE))),
         counts AS (
           SELECT source AS s, count(*) AS c FROM documents
           WHERE source IN (SELECT s FROM tgt) GROUP BY 1),
         p AS (SELECT tgt.s, COALESCE(counts.c, 0) AS c, tgt.p AS p
           FROM tgt LEFT JOIN counts ON tgt.s = counts.s),
         rates AS (SELECT s,
             LEAST(256, GREATEST(0, CAST(floor(
               CAST(256 AS DOUBLE) * p * (SELECT min(c / p) FROM p) / c
               + 1e-9) AS INTEGER))) AS r
           FROM p WHERE c > 0)
         SELECT d.source, count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM documents d JOIN rates ON d.source = rates.s
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2))
             AS INTEGER) < rates.r
         GROUP BY d.source""") { (s, d) =>
      graft.ops.Sampling.mixtureSample(
          t("documents")(s, d), col("doc_id"), col("source"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    },

    // ---- token-budget mixing: the token-weighted form of q_domain_mix
    //      (pretraining mixtures are specified in tokens) — per source,
    //      keep the deterministic-shuffle-order prefix of documents
    //      whose exclusive token prefix sum is under the budget; only
    //      the single boundary hash band flows through a window ----
    // Replays the NAIVE one-window-per-stratum form the two-pass Scala
    // plan is row-identical to (TemporalJoinsSpec pins the equality):
    // exclusive prefix sum of tokens in (md5(key), key) order, keep
    // while still under the budget — the crossing doc is kept.
    QueryDef("q_token_budget_mix",
      """WITH b(s, budget) AS (VALUES
           ('src0', 800), ('src1', 500), ('src2', 1000000)),
         d AS (
           SELECT doc_id, source,
             len(regexp_extract_all(text, '\S+')) AS n_tokens
           FROM documents WHERE source IN (SELECT s FROM b)),
         w AS (
           SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prior
           FROM d)
         SELECT doc_id, source, n_tokens
         FROM w JOIN b ON w.source = b.s
         WHERE prior < budget""") { (s, d) =>
      val docs = t("documents")(s, d)
        .withColumn("n_tokens", graft.text.TextOps.tokenCount(col("text")))
      graft.ops.Sampling.tokenBudgetSample(
          docs, col("doc_id"), col("source"), col("n_tokens"),
          Map("src0" -> 800L, "src1" -> 500L, "src2" -> 1000000L))
        .select(col("doc_id"), col("source"), col("n_tokens"))
    },

    // ---- quality-first budget fill: per source keep the LONGEST
    //      documents (score = n_chars) until the token budget; the
    //      boundary score band is the only window ----
    // The naive quality-window twin of bestUnderBudget: exclusive
    // token prefix in (n_chars DESC, md5, doc_id) order, keep while
    // under budget — the banded plan is row-identical
    // (TemporalJoinsSpec pins the equality and the plan shape).
    QueryDef("q_best_under_budget",
      """WITH b(s, budget) AS (VALUES ('src0', 800), ('src1', 1000000)),
         d AS (
           SELECT doc_id, source, n_chars,
             len(regexp_extract_all(text, '\S+')) AS n_tokens
           FROM documents WHERE source IN (SELECT s FROM b)),
         w AS (
           SELECT doc_id, source, n_tokens, n_chars,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prior
           FROM d)
         SELECT doc_id, source, n_tokens, n_chars
         FROM w JOIN b ON w.source = b.s
         WHERE prior < budget""") { (s, d) =>
      val docs = t("documents")(s, d)
        .withColumn("n_tokens", graft.text.TextOps.tokenCount(col("text")))
      graft.ops.Sampling.bestUnderBudget(
          docs, col("doc_id"), col("source"), col("n_tokens"),
          col("n_chars"), Map("src0" -> 800L, "src1" -> 1000000L))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("n_chars"))
    },

    // ---- the full mixture spec a pretraining build starts from:
    //      "2000 tokens at 50/25/25" — solve per-source token budgets
    //      (binding stratum caps the total), apply as the banded
    //      budget sample; achieved mixture is the output ----
    // Replays tokenMixtureBudgets double-for-double (the q_domain_mix
    // discipline: targets sum to exactly 1.0 so the Scala p/total
    // normalization is a no-op; every literal CAST AS DOUBLE; the
    // +1e-9 replays the binding-stratum floor guard; LEFT JOIN +
    // COALESCE 0 binds an absent stratum to T=0), then the naive
    // prefix window of q_token_budget_mix.
    QueryDef("q_token_mixture",
      """WITH tgt(s, p) AS (VALUES
           ('src0', CAST(0.5 AS DOUBLE)),
           ('src1', CAST(0.25 AS DOUBLE)),
           ('src2', CAST(0.25 AS DOUBLE))),
         d AS (
           SELECT doc_id, source,
             len(regexp_extract_all(text, '\S+')) AS n_tokens
           FROM documents WHERE source IN (SELECT s FROM tgt)),
         av AS (SELECT source AS s, CAST(sum(n_tokens) AS DOUBLE) AS a
                FROM d GROUP BY 1),
         j AS (SELECT tgt.s, tgt.p, COALESCE(av.a, CAST(0 AS DOUBLE)) AS a
               FROM tgt LEFT JOIN av ON tgt.s = av.s),
         b AS (SELECT s, CAST(floor(p * LEAST(
                 (SELECT min(a / p) FROM j),
                 CAST(2000 AS DOUBLE)) + 1e-9) AS BIGINT) AS budget
               FROM j),
         w AS (
           SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prior
           FROM d)
         SELECT w.source, count(*) AS n_docs,
           CAST(sum(w.n_tokens) AS BIGINT) AS kept_tokens
         FROM w JOIN b ON w.source = b.s
         WHERE w.prior < b.budget
         GROUP BY w.source""") { (s, d) =>
      val docs = t("documents")(s, d)
        .withColumn("n_tokens", graft.text.TextOps.tokenCount(col("text")))
      graft.ops.Sampling.tokenMixtureSample(
          docs, col("doc_id"), col("source"), col("n_tokens"), 2000L,
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("kept_tokens"))
    },

    // ---- temperature-smoothed mixture (share ∝ n^0.3, the XLM-R
    //      α-rule): targets computed FROM the per-source token mass,
    //      low-resource sources upweighted, binding stratum caps the
    //      total; applied as the same banded budget sample ----
    // temperature solver replayed double for double: shares from
    // pow(mass, 0.3) normalized by an ORDER BY s sum (double addition
    // is order-sensitive — the engine folds in the same sorted-key
    // order), T = least(min(a/share), budget), floor(+1e-9) budgets,
    // then the naive prefix window of q_token_mixture
    QueryDef("q_temperature_mix",
      """WITH d AS (
           SELECT doc_id, source,
             len(regexp_extract_all(text, '\S+')) AS n_tokens
           FROM documents WHERE source IS NOT NULL),
         av AS (SELECT source AS s, CAST(sum(n_tokens) AS DOUBLE) AS a
                FROM d GROUP BY 1 HAVING sum(n_tokens) > 0),
         pw AS (SELECT s, a, pow(a, CAST(0.3 AS DOUBLE)) AS p FROM av),
         zt AS (SELECT sum(p ORDER BY s) AS z FROM pw),
         b AS (SELECT s, CAST(floor((p / z) * LEAST(
                 (SELECT min(a / (p / z)) FROM pw, zt),
                 CAST(2000 AS DOUBLE)) + 1e-9) AS BIGINT) AS budget
               FROM pw, zt),
         w AS (
           SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prior
           FROM d)
         SELECT w.source, count(*) AS n_docs,
           CAST(sum(w.n_tokens) AS BIGINT) AS kept_tokens
         FROM w JOIN b ON w.source = b.s
         WHERE w.prior < b.budget
         GROUP BY w.source""") { (s, d) =>
      val docs = t("documents")(s, d)
        .withColumn("n_tokens", graft.text.TextOps.tokenCount(col("text")))
      graft.ops.Sampling.temperatureMixtureSample(
          docs, col("doc_id"), col("source"), col("n_tokens"), 2000L,
          alpha = 0.3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("kept_tokens"))
    },

    // ---- trainable quality filter (fastText-style): logistic weights
    //      by batch GD — one aggregation pass per iteration, exact
    //      decimal gradient sums (layout-independent; oracle-checked:
    //      OracleQuality unrolls all 15 iterations in DuckDB SQL) ----
    // quality-classifier training replayed in DuckDB (OracleQuality):
    // 15 unrolled GD iterations over lattice-snapped features with
    // the fastText-style table sigmoid inlined as plan literals —
    // the learned weights AND the scoring pass, hash-checkable
    QueryDef("q_quality_model", OracleQuality.qualityModelSql) { (s, d) =>
      graft.text.QualityModel.weightsDf(s,
        graft.text.QualityModel.features(col("text")),
        qualityWeights.refresh(s, d))
    },

    // ---- apply the learned filter: sigmoid(w·x) with weights folded
    //      into a literal expression — shuffle-free scoring pass ----
    QueryDef("q_quality_scores", OracleQuality.qualityScoresSql) { (s, d) =>
      val feats = graft.text.QualityModel.features(col("text"))
      t("documents")(s, d)
        .select(col("doc_id"), col("lang"),
          graft.text.QualityModel
            .scoreColumn(feats, qualityWeights(s, d)).as("score"))
    },

    // ---- calibration / reliability report for the quality model:
    //      decile buckets of the learned sigmoid scores vs the
    //      training weak label, observed positive rate in basis
    //      points — the "is 0.8 actually 80%" check every deployed
    //      filter needs; shares the memoized training run ----
    // decile reliability over the same replayed scores
    QueryDef("q_calibration", OracleQuality.calibrationSql) { (s, d) =>
      import graft.text.TextOps._
      val feats = graft.text.QualityModel.features(col("text"))
      t("documents")(s, d)
        .select(
          graft.text.QualityModel
            .scoreColumn(feats, qualityWeights(s, d)).as("score"),
          (tokenCount(col("text")) >= 60).as("pos"))
        .filter(col("score").isNotNull)
        .groupBy(least(lit(9), floor(col("score") * 10)).cast("int")
          .as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_rate_bp", expr("n_pos * 10000 div n_docs"))
    },

    // ---- deterministic corpus shuffle: the stable pseudo-random
    //      TRAINING ORDER (same sequence every rebuild, any layout,
    //      any md5-agreeing engine); sort+limit plans as distributed
    //      top-k (TakeOrderedAndProject), never a global single-
    //      partition sort ----
    QueryDef("q_corpus_shuffle",
      """SELECT doc_id, source FROM documents
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50""") { (s, d) =>
      graft.ops.Sampling.deterministicShuffle(
          t("documents")(s, d).select(col("doc_id"), col("source")),
          col("doc_id"))
        .limit(50)
    },

    // ---- ORC round trip: the OTHER native columnar format, same
    //      lossless-transport proof shape as the JSONL twin; predicate
    //      pushdown and column pruning work on ORC scans exactly as on
    //      parquet, so corpora stored either way read identically ----
    QueryDef("q_orc_roundtrip",
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
         FROM documents GROUP BY source""") { (s, d) =>
      val schema = t("documents")(s, d).schema
      s.read.schema(schema).orc(orcFixture(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"),
          countDistinct(md5(col("text").cast("binary")))
            .as("n_unique_texts"))
    },

    // ---- JSON-lines round trip: documents written as JSONL (the LLM
    //      corpus interchange format) and read back under the explicit
    //      schema; the content-sensitive aggregate (distinct md5 of
    //      text) proves lossless transport vs the parquet oracle ----
    QueryDef("q_jsonl_roundtrip",
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
         FROM documents GROUP BY lang""") { (s, d) =>
      val schema = t("documents")(s, d).schema
      s.read.schema(schema).json(jsonlFixture(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text").cast("binary")))
            .as("n_unique_texts"))
    },

    // ---- z-order layout round trip: orders rewritten along the
    //      (o_custkey, o_totalprice) Morton curve — the multi-column
    //      skipping layout — must preserve content exactly; the
    //      order-insensitive per-status proof (counts, exact decimal
    //      sums, distinct key-hash) catches a dropped, duplicated, or
    //      corrupted row ----
    // the fixture only reorders rows, so the oracle is the ORIGINAL
    // orders table — any drop/duplicate/corruption in the z-order
    // rewrite breaks a count, the exact decimal sum, or the distinct
    // row-key hash
    QueryDef("q_zorder_roundtrip",
      """SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           CAST(count(DISTINCT md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR))) AS BIGINT) AS n_unique_rows
         FROM orders GROUP BY o_orderstatus""") { (s, d) =>
      s.read.parquet(zorderFixture(s, d))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          countDistinct(md5(concat_ws("|",
            col("o_orderkey"), col("o_custkey")).cast("binary")))
            .as("n_unique_rows"))
    },

    // ---- compressed JSONL round trip: the shipping format of real
    //      corpora (.jsonl.gz); same content-sensitive lossless-
    //      transport proof as the plain twin, read back through
    //      Hadoop's codec layer under the explicit schema ----
    QueryDef("q_jsonl_gz_roundtrip",
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
         FROM documents GROUP BY source""") { (s, d) =>
      val schema = t("documents")(s, d).schema
      s.read.schema(schema).json(jsonlGzFixture(s, d))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(md5(col("text").cast("binary")))
            .as("n_unique_texts"))
    },

    // ========== warehouse-maintenance operators (round 8) ==========

    // ---- SCD2 type-2 dimension merge: bootstrap a history from the
    //      customer snapshot, then merge one batch where ⅓ of keys
    //      change (acctbal +100), ⅓ are byte-identical no-ops (must
    //      leave NO churn version), and ⅓ arrive as brand-new keys ----
    // SCD2 replay: sup = keys whose open row is superseded (null-safe
    // attribute comparison, the engine's <=> mirrored as IS NOT
    // DISTINCT FROM); the original snapshot closes where superseded,
    // inserts are changed-or-new update rows
    QueryDef("q_scd2_merge",
      """WITH c AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
         upd AS (
           SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal,
             c_mktsegment
           FROM c WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal, c_mktsegment FROM c
           WHERE c_custkey % 3 = 1
           UNION ALL
           SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), 'NEW'
           FROM c WHERE c_custkey % 3 = 2),
         sup AS (
           SELECT u.c_custkey FROM upd u JOIN c ON u.c_custkey = c.c_custkey
           WHERE NOT (u.c_acctbal IS NOT DISTINCT FROM c.c_acctbal
                  AND u.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment)),
         ins AS (
           SELECT u.* FROM upd u
           WHERE EXISTS (SELECT 1 FROM sup s WHERE s.c_custkey = u.c_custkey)
              OR NOT EXISTS (SELECT 1 FROM c WHERE c.c_custkey = u.c_custkey))
         SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
           '1994-01-01' AS valid_from,
           CASE WHEN EXISTS (SELECT 1 FROM sup s
                             WHERE s.c_custkey = c.c_custkey)
             THEN '1995-06-01' END AS valid_to,
           NOT EXISTS (SELECT 1 FROM sup s
                       WHERE s.c_custkey = c.c_custkey) AS is_current
         FROM c
         UNION ALL
         SELECT c_custkey, c_acctbal, c_mktsegment,
           '1995-06-01', NULL, TRUE
         FROM ins""") { (s, d) =>
      val c = t("customer")(s, d)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val hist = graft.ops.Scd.scd2Init(c, lit("1994-01-01"))
      val updates = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(3)) === 1))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(3)) === 2)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
      graft.ops.Scd.scd2Merge(hist, updates, "c_custkey", lit("1995-06-01"))
    },

    // ---- SCD2 point-in-time lookup: each sampled order attaches the
    //      customer VERSION current at its own order date (the
    //      train-time feature-correctness read) — a backward as-of
    //      join on valid_from (one key shuffle + window carry), never
    //      the per-key nested loop of a raw interval-range join.
    //      Orders predating the 1994 init snapshot keep nulls ----
    // the interval join replays the as-of lookup exactly because SCD2
    // intervals are contiguous and non-overlapping per key: at most
    // one version covers any order date; pre-1994 orders keep nulls
    QueryDef("q_scd2_asof",
      """WITH c AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
         upd AS (
           SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal,
             c_mktsegment
           FROM c WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, c_acctbal, c_mktsegment FROM c
           WHERE c_custkey % 3 = 1
           UNION ALL
           SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), 'NEW'
           FROM c WHERE c_custkey % 3 = 2),
         sup AS (
           SELECT u.c_custkey FROM upd u JOIN c ON u.c_custkey = c.c_custkey
           WHERE NOT (u.c_acctbal IS NOT DISTINCT FROM c.c_acctbal
                  AND u.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment)),
         ins AS (
           SELECT u.* FROM upd u
           WHERE EXISTS (SELECT 1 FROM sup s WHERE s.c_custkey = u.c_custkey)
              OR NOT EXISTS (SELECT 1 FROM c WHERE c.c_custkey = u.c_custkey)),
         hist AS (
           SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
             '1994-01-01' AS valid_from,
             CASE WHEN EXISTS (SELECT 1 FROM sup s
                               WHERE s.c_custkey = c.c_custkey)
               THEN '1995-06-01' END AS valid_to,
             NOT EXISTS (SELECT 1 FROM sup s
                         WHERE s.c_custkey = c.c_custkey) AS is_current
           FROM c
           UNION ALL
           SELECT c_custkey, c_acctbal, c_mktsegment,
             '1995-06-01', NULL, TRUE
           FROM ins),
         f AS (
           SELECT o_orderkey, o_custkey AS c_custkey,
             strftime(o_orderdate, '%Y-%m-%d') AS od
           FROM orders WHERE o_orderkey % 20 = 0)
         SELECT f.o_orderkey, f.c_custkey, f.od,
           h.c_acctbal, h.c_mktsegment,
           h.valid_from, h.valid_to, h.is_current
         FROM f LEFT JOIN hist h ON h.c_custkey = f.c_custkey
           AND h.valid_from <= f.od
           AND (h.valid_to IS NULL OR h.valid_to > f.od)""") { (s, d) =>
      val c = t("customer")(s, d)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val hist0 = graft.ops.Scd.scd2Init(c, lit("1994-01-01"))
      val updates = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(3)) === 1))
        .unionByName(c.filter(pmod(col("c_custkey"), lit(3)) === 2)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            lit(0.0).as("c_acctbal"), lit("NEW").as("c_mktsegment")))
      val hist = graft.ops.Scd.scd2Merge(
        hist0, updates, "c_custkey", lit("1995-06-01"))
      val facts = t("orders")(s, d)
        .filter(pmod(col("o_orderkey"), lit(20)) === 0)
        .select(col("o_orderkey"),
          col("o_custkey").as("c_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      graft.ops.Scd.asOfLookup(facts, hist, "c_custkey", "od")
    },

    // ---- incremental aggregate maintenance: three batch partials
    //      folded through merge() must equal a one-shot recompute —
    //      the materialized-view algebra that replaces full-history
    //      rescans at refresh time ----
    // merged partials must equal the one-shot recompute; avg_v is the
    // 2-dp HALF_UP mean in exact long arithmetic (the q_lm_score
    // discipline — S2 = sum·100 exact, integer HALF_UP quotient, one
    // correctly-rounded double division)
    QueryDef("q_agg_maintain",
      """WITH st AS (
           SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(28,2))) AS sum_d,
             min(l_quantity) AS min_v, max(l_quantity) AS max_v
           FROM lineitem GROUP BY l_returnflag),
         w AS (SELECT *,
           CAST(CAST(sum_d AS DECIMAL(30,2)) * 100 AS BIGINT) AS s2
           FROM st)
         SELECT l_returnflag, n, CAST(sum_d AS DOUBLE) AS sum_v,
           min_v, max_v,
           (CASE WHEN s2 < 0 THEN -1 ELSE 1 END) *
             CAST((2 * abs(s2) + n) // (2 * n) AS DOUBLE) / 100.0 AS avg_v
         FROM w""") { (s, d) =>
      import graft.ops.AggMaintain
      val li = t("lineitem")(s, d)
        .select("l_orderkey", "l_returnflag", "l_quantity")
      val parts = (0 to 2).map(i => AggMaintain.partial(
        li.filter(pmod(col("l_orderkey"), lit(3)) === i),
        Seq("l_returnflag"), "l_quantity"))
      AggMaintain.finish(
        parts.reduce((a, b) => AggMaintain.merge(a, b, Seq("l_returnflag"))))
    },

    // ---- keyed snapshot diff across TableStore versions: v1 vs the
    //      current snapshot (earliest month rewritten ×1.1 by the
    //      store fixture) — only (key, fingerprint) pairs shuffle ----
    // the store fixture rewrote exactly the earliest month's prices
    // (×1.1 — always a change on positive prices), so the v1→latest
    // diff is 'update' for exactly those keys
    QueryDef("q_snapshot_diff",
      """SELECT o_orderkey, 'update' AS change FROM orders
         WHERE strftime(o_orderdate, '%Y-%m') =
           (SELECT min(strftime(o_orderdate, '%Y-%m')) FROM orders)""") { (s, d) =>
      val store = new graft.streaming.TableStore(storeFixture(s, d))
      graft.ops.SnapshotDiff.diff(
        store.readAt(s, "orders", storeOrdersSchema, 1L),
        store.read(s, "orders", storeOrdersSchema),
        "o_orderkey")
    },

    // ---- quarantine routing: clean rows tagged 'ok', failing rows
    //      tagged with the FIRST breached rule in rule order — both
    //      outputs from one map-side pass over one scan ----
    // first-breached-rule-in-order tag; NULL predicate = violation
    QueryDef("q_quarantine",
      """SELECT l_orderkey, l_linenumber,
           coalesce(
             CASE WHEN NOT coalesce(l_quantity > 0 AND l_quantity <= 45,
               FALSE) THEN 'qty_range' END,
             CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 0.06,
               FALSE) THEN 'discount_range' END,
             CASE WHEN NOT coalesce(l_tax <= 0.07, FALSE)
               THEN 'tax_range' END,
             'ok') AS status
         FROM lineitem""") { (s, d) =>
      val li = t("lineitem")(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_discount", "l_tax")
      val (clean, quar) = graft.ops.DataQuality.quarantine(li, Seq(
        "qty_range" -> (col("l_quantity") > 0 && col("l_quantity") <= 45),
        "discount_range" ->
          (col("l_discount") >= 0 && col("l_discount") <= 0.06),
        "tax_range" -> (col("l_tax") <= 0.07)))
      clean.withColumn("status", lit("ok"))
        .unionByName(quar.withColumnRenamed("failed_rule", "status"))
        .select("l_orderkey", "l_linenumber", "status")
    },

    // ---- mergeable HLL sketches across epochs: per-day sketch state
    //      unioned to a whole-corpus estimate without re-scanning any
    //      closed epoch; asserted against the exact distinct count and
    //      against the direct one-shot sketch inside the query ----
    // sketch estimates are engine-specific — the oracle checks the
    // exact counts and asserts the in-query accuracy/consistency
    // booleans are all TRUE (the q_sketch_accuracy pattern)
    QueryDef("q_hll_epochs",
      """SELECT
           (SELECT count(DISTINCT strftime(ts, '%Y-%m-%d')) FROM events)
             AS n_epochs,
           (SELECT count(*) FROM events) AS n_rows,
           (SELECT count(DISTINCT user_id) FROM events) AS n_exact,
           TRUE AS merged_in_bounds,
           TRUE AS merge_consistent,
           TRUE AS rows_consistent""") { (s, d) =>
      val ev = t("events")(s, d)
      val sk = graft.ops.Sketches.epochSketches(
        ev, date_format(col("ts"), "yyyy-MM-dd"), col("user_id"))
      val merged = graft.ops.Sketches.mergeEstimate(sk)
        .withColumnRenamed("n_rows", "n_rows_merged")
      val epochs = sk.agg(count(lit(1)).as("n_epochs"))
      val direct = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("direct_est"),
        countDistinct(col("user_id")).as("n_exact"),
        count(lit(1)).as("n_rows"))
      direct.crossJoin(merged).crossJoin(epochs).select(
        col("n_epochs"), col("n_rows"), col("n_exact"),
        (abs(col("estimate") - col("n_exact")).cast("double") <=
          lit(0.05) * col("n_exact")).as("merged_in_bounds"),
        (abs(col("estimate") - col("direct_est")).cast("double") <=
          greatest(lit(1.0), lit(0.005) * col("n_exact")))
          .as("merge_consistent"),
        (col("n_rows_merged") === col("n_rows")).as("rows_consistent"))
    },

    // ---- mergeable KLL quantile sketches: per-day distribution
    //      state merged to whole-corpus p50/p95 without re-scanning
    //      closed epochs. KLL compaction is order-sensitive, so the
    //      oracle-checked output asserts the RANK of each estimate
    //      (±2.5%; k=200 guarantees ±1.65%) plus the exact discrete
    //      quantiles, never the raw estimates ----
    // sketch estimates assert as rank-bound booleans; the exact
    // discrete quantiles (pure value selection, no FP arithmetic)
    // hash-compare directly
    QueryDef("q_kll_quantiles",
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
         o AS (SELECT value, cume_dist() OVER (ORDER BY value) AS cd
               FROM v)
         SELECT (SELECT count(*) FROM v) AS n,
           (SELECT min(value) FROM o WHERE cd >= 0.5) AS p50_exact,
           (SELECT min(value) FROM o WHERE cd >= 0.95) AS p95_exact,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok""") { (s, d) =>
      import graft.functions.SketchAggs._
      val ev = t("events")(s, d)
        .filter(col("value").isNotNull)
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      val merged = ev.groupBy(col("day"))
        .agg(kllSketchAgg(col("value")).as("sketch"))
        .agg(kllMergeAgg(col("sketch")).as("m"))
        .select(kllQuantile(col("m"), 0.5).as("p50_est"),
          kllQuantile(col("m"), 0.95).as("p95_est"))
      val cds = ev.select(col("value"),
        cume_dist().over(Window.orderBy(col("value"))).as("cd"))
      val exact = cds.filter(col("cd") >= 0.5).agg(min("value").as("p50_exact"))
        .crossJoin(
          cds.filter(col("cd") >= 0.95).agg(min("value").as("p95_exact")))
      ev.crossJoin(merged).agg(
        count(lit(1)).as("n"),
        (sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)) /
          count(lit(1))).as("r50"),
        (sum(when(col("value") <= col("p95_est"), 1L).otherwise(0L)) /
          count(lit(1))).as("r95"))
        .crossJoin(exact)
        .select(col("n"), col("p50_exact"), col("p95_exact"),
          (abs(col("r50") - 0.5) <= 0.025).as("p50_rank_ok"),
          (abs(col("r95") - 0.95) <= 0.025).as("p95_rank_ok"))
    },

    // ---- theta-sketch retention: distinct-user INTERSECTION between
    //      the two halves of the month — the estimate HLL cannot give.
    //      Theta state is a pure set property (k smallest hashes), so
    //      the estimates are deterministic under any partitioning ----
    QueryDef("q_theta_retention",
      """WITH f AS (
           SELECT user_id,
             max(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS a,
             max(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS b
           FROM events GROUP BY user_id)
         SELECT CAST(sum(a) AS BIGINT) AS n_h1,
           CAST(sum(b) AS BIGINT) AS n_h2,
           CAST(sum(a * b) AS BIGINT) AS n_both,
           count(*) AS n_any,
           TRUE AS both_ok, TRUE AS any_ok
         FROM f""") { (s, d) =>
      import graft.functions.SketchAggs._
      val ev = t("events")(s, d)
        .select(col("user_id"), (dayofmonth(col("ts")) <= 15).as("h1"))
      val est = ev.groupBy(col("h1"))
        .agg(thetaSketchAgg(col("user_id")).as("sketch"))
        .agg(
          thetaEstimate(thetaIntersectAgg(col("sketch"))).as("est_both"),
          thetaEstimate(thetaUnionAgg(col("sketch"))).as("est_any"))
      val flags = ev.groupBy(col("user_id")).agg(
        max(when(col("h1"), 1).otherwise(0)).as("a"),
        max(when(!col("h1"), 1).otherwise(0)).as("b"))
      flags.agg(
        sum(col("a")).as("n_h1"), sum(col("b")).as("n_h2"),
        sum(col("a") * col("b")).as("n_both"), count(lit(1)).as("n_any"))
        .crossJoin(est)
        .select(col("n_h1"), col("n_h2"), col("n_both"), col("n_any"),
          (abs(col("est_both") - col("n_both")) <=
            greatest(lit(2.0), lit(0.05) * col("n_both"))).as("both_ok"),
          (abs(col("est_any") - col("n_any")) <=
            greatest(lit(2.0), lit(0.05) * col("n_any"))).as("any_ok"))
    },

    // ---- token-length histogram (fixed 32-token buckets): the
    //      sequence-length distribution that sizes packing windows ----
    QueryDef("q_doc_length_hist",
      """WITH tk AS (
           SELECT len(regexp_extract_all(text, '\S+')) AS n_tokens
           FROM documents)
         SELECT (n_tokens // 32) * 32 AS bucket, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM tk GROUP BY 1""") { (s, d) =>
      t("documents")(s, d)
        .select(graft.text.TextOps.tokenCount(col("text")).as("n_tokens"))
        .select((floor(col("n_tokens") / lit(32)) * 32).as("bucket"),
          col("n_tokens"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
    },

    // ---- exact-count balanced subset: the 5 docs per source that
    //      come first in the deterministic-shuffle order — fixed-size
    //      per-domain sampling on the bounded-heap top-k aggregate
    //      (no per-stratum window sort; a giant domain cannot
    //      serialize through one task) ----
    // md5 hex is lowercase in both engines, so the ASCII string order
    // of the shuffle key agrees; ties cannot occur (doc_id unique)
    QueryDef("q_group_sample",
      """SELECT source, CAST(rank AS INTEGER) AS sample_rank, doc_id
         FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
           FROM documents)
         WHERE rank <= 5""") { (s, d) =>
      graft.ops.Sampling.fixedCountPerStratum(
          t("documents")(s, d).select("doc_id", "source"),
          Seq("source"), col("doc_id"), k = 5)
        .select(col("source"), col("sample_rank"), col("doc_id"))
    },

    // ---- per-group top-k via the bounded-heap collect aggregate:
    //      top-3 orders per priority by (price, key) desc. Each map
    //      task's heap holds ≤ k rows per group and the exchange
    //      carries ≤ k-row states — the scale form of the window
    //      row_number() ≤ k, which would shuffle and sort every row ----
    QueryDef("q_topk_group",
      """SELECT o_orderpriority, CAST(rank AS INTEGER) AS rank,
           o_totalprice, o_orderkey
         FROM (
           SELECT o_orderpriority, o_totalprice, o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rank
           FROM orders)
         WHERE rank <= 3""") { (s, d) =>
      graft.ops.TopK.topKPerGroup(
        t("orders")(s, d)
          .select("o_orderpriority", "o_totalprice", "o_orderkey"),
        Seq("o_orderpriority"),
        struct(col("o_totalprice"), col("o_orderkey")),
        k = 3, largest = true)
    },

    // ---- BM25 top-k retrieval: a 3-query batch searched against the
    //      corpus — the search half of q_doc_bm25. Downstream of the
    //      query-vocabulary semi-join, every stage touches only the
    //      matched postings; scores sum in exact DECIMAL(18,6) so the
    //      (score desc, doc_id) ranking is cross-engine stable ----
    QueryDef("q_bm25_search", bm25SearchSql) { (s, d) =>
      import s.implicits._
      val queries = Seq(
        ("q1", "hash join batch"),
        ("q2", "window sort column"),
        ("q3", "customer order data stream")).toDF("qid", "qtext")
      graft.text.TextOps.bm25Search(
        t("documents")(s, d), "doc_id", "text", queries, "qid", "qtext")
    },

    // ---- ranking-quality evaluation: nDCG@10 / MRR / P@10 / R@10 of
    //      the BM25 ranking against all-terms-containment judgments —
    //      DCG terms pre-quantized to integer micro-units (constants
    //      of the metric), so every sum is exact and order-free; the
    //      eval regression gate of the retrieval stack ----
    // the BM25 chain re-ranked at top-10, judged by all-terms
    // containment, scored with the SAME integer DCG micro-unit
    // table RankEval inlines into the plan
    QueryDef("q_rank_eval", rankEvalSql(bm25SearchSql)) { (s, d) =>
      import s.implicits._
      val queries = Seq(
        ("q1", "hash join batch"),
        ("q2", "window sort column"),
        ("q3", "customer order data stream")).toDF("qid", "qtext")
      val docs = t("documents")(s, d)
      val ranking = graft.text.TextOps.bm25Search(
          docs, "doc_id", "text", queries, "qid", "qtext", k = 10)
        .select("qid", "doc_id", "rank")
      val qt = queries.select(col("qid"),
        explode(graft.text.TextOps.tokens(lower(col("qtext"))))
          .as("term")).distinct()
      val nTerms = qt.groupBy(col("qid")).agg(count(lit(1)).as("n_terms"))
      // only query-vocabulary terms ever join qt below — filter the
      // exploded corpus tokens to that vocabulary BEFORE the distinct
      // (guide §2.3), so the (doc, term) dedup exchange carries the
      // handful of matching terms instead of the whole token space
      val dt = graft.text.TextOps.spreadScan(docs)
        .select(col("doc_id"),
          explode(graft.text.TextOps.tokens(lower(col("text"))))
            .as("term"))
        .join(broadcast(qt.select("term").distinct()),
          Seq("term"), "left_semi")
        .distinct()
      val qrels = qt.join(dt, Seq("term"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("m"))
        .join(nTerms, Seq("qid"))
        .filter(col("m") === col("n_terms"))
        .select("qid", "doc_id")
      graft.ops.RankEval.rankingMetrics(ranking, qrels, 10)
    },

    // ---- hybrid retrieval (RAG shape): lexical BM25 top-20 and
    //      dense cosine top-20 per query, fused by Reciprocal Rank
    //      Fusion on exact-decimal contributions — ranks, not raw
    //      scores, are what fuse, so the two systems' incommensurable
    //      score spaces never meet. Query embeddings are vectors
    //      0/1/2 of the aligned embeddings table ----
    // both input rankings replayed verbatim (the q_bm25_search chain
    // at top-20; the q_knn_bruteforce cosine chain over query vectors
    // 0/1/2), then RRF on exact 9-dp-lattice decimal contributions —
    // ranks fuse, never the raw score spaces
    QueryDef("q_hybrid_search", hybridSearchSql) { (s, d) =>
      hybridSearch(s, d)
    },

    // ---- RM3 pseudo-relevance feedback: BM25 retrieve → expansion
    //      terms from the top-10 feedback docs (RM1 weights) → re-
    //      search with the β=0.5 interpolated query — the classic
    //      recall lever; both passes and every derived scalar on the
    //      lattice discipline, replayed end to end in DuckDB. Served
    //      from the PERSISTED inverted index (the q_bm25_search_indexed
    //      fixture): both BM25 passes read only their vocabulary's
    //      postings buckets and the RM1 estimate tokenizes only the
    //      ≤30 feedback documents (pushed id filter) — the live
    //      TextOps.rm3Search twin re-scans full corpus postings per
    //      stage and was the surface's one stable over-2×-baseline
    //      line (r13 judge: 10.37 s solo at sf0.1). SearchIndexSpec
    //      pins the two paths row-equal; the oracle is unchanged ----
    // two bm25-shaped passes with the RM1/RM3 scalars between them —
    // every derived value one fixed sequence of correctly-rounded
    // IEEE ops snapped to the 9-dp lattice before each decimal sum
    QueryDef("q_rm3_search",
      """WITH q(qid, qtext) AS (VALUES
           ('q1', 'hash join batch'),
           ('q2', 'window sort column'),
           ('q3', 'customer order data stream')),
         qt AS (SELECT DISTINCT qid, term FROM (
           SELECT qid,
             unnest(regexp_extract_all(lower(qtext), '\S+')) AS term
           FROM q)),
         toks AS (SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n_docs,
                   avg(coalesce(dl.dl, 0)) AS avgdl
                 FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id),
         tf1 AS (SELECT * FROM tf
           WHERE term IN (SELECT term FROM qt)),
         df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY 1),
         w1 AS (SELECT tf1.doc_id, tf1.term,
           CAST(round(
             ln((tot.n_docs - df1.df + 0.5) / (df1.df + 0.5) + 1.0)
             * (tf1.tf * 2.2
                / (tf1.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl))),
             6) AS DECIMAL(18,6)) AS w
           FROM tf1
           JOIN dl ON dl.doc_id = tf1.doc_id
           JOIN df1 ON df1.term = tf1.term
           CROSS JOIN tot),
         s1 AS (SELECT qt.qid, w1.doc_id,
             CAST(sum(w1.w) AS DECIMAL(18,6)) AS score
           FROM w1 JOIN qt ON qt.term = w1.term GROUP BY 1, 2),
         fb AS (SELECT qid, doc_id, score FROM (
           SELECT qid, doc_id, score, row_number() OVER (
             PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
           FROM s1) WHERE rn <= 10),
         ssum AS (SELECT qid,
             CAST(sum(score) AS DECIMAL(18,6)) AS ssum
           FROM fb GROUP BY 1),
         wd AS (SELECT fb.qid, fb.doc_id,
             round(CAST(fb.score AS DOUBLE) / CAST(ssum.ssum AS DOUBLE),
               9) AS wd
           FROM fb JOIN ssum ON ssum.qid = fb.qid),
         prm AS (SELECT wd.qid, tf.term,
             CAST(sum(CAST(round((tf.tf / dl.dl) * wd.wd, 9)
               AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS p_rm
           FROM wd
           JOIN tf ON tf.doc_id = wd.doc_id
           JOIN dl ON dl.doc_id = wd.doc_id
           GROUP BY 1, 2),
         expt AS (SELECT qid, term, p_rm FROM (
           SELECT qid, term, p_rm, row_number() OVER (
             PARTITION BY qid ORDER BY p_rm DESC, term) AS rn
           FROM prm) WHERE rn <= 10),
         nq AS (SELECT qid, count(*) AS nq FROM qt GROUP BY 1),
         orig AS (SELECT qt.qid, qt.term,
             CAST(round(1.0e0 / nq.nq, 9) AS DECIMAL(18,9)) AS p_orig
           FROM qt JOIN nq ON nq.qid = qt.qid),
         wq AS (SELECT qid, term,
             CAST(round(0.5 * coalesce(p_orig, CAST(0 AS DECIMAL(18,9)))
               + 0.5 * coalesce(p_rm, CAST(0 AS DECIMAL(18,9))),
               9) AS DECIMAL(18,9)) AS wt
           FROM orig FULL OUTER JOIN expt USING (qid, term)),
         tf2 AS (SELECT * FROM tf
           WHERE term IN (SELECT DISTINCT term FROM wq)),
         df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY 1),
         w2 AS (SELECT tf2.doc_id, tf2.term,
           CAST(round(
             ln((tot.n_docs - df2.df + 0.5) / (df2.df + 0.5) + 1.0)
             * (tf2.tf * 2.2
                / (tf2.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / tot.avgdl))),
             6) AS DECIMAL(18,6)) AS w
           FROM tf2
           JOIN dl ON dl.doc_id = tf2.doc_id
           JOIN df2 ON df2.term = tf2.term
           CROSS JOIN tot),
         s2 AS (SELECT wq.qid, w2.doc_id,
             CAST(sum(CAST(round(wq.wt * w2.w, 9)
               AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS score2
           FROM w2 JOIN wq ON wq.term = w2.term GROUP BY 1, 2)
         SELECT qid, rank, doc_id,
           round(CAST(score2 AS DOUBLE), 9) AS score
         FROM (
           SELECT qid, doc_id, score2,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score2 DESC, doc_id) AS INTEGER)
               AS rank
           FROM s2)
         WHERE rank <= 10""") { (s, d) =>
      import s.implicits._
      val store = new graft.streaming.TableStore(searchIndexFixture(s, d))
      val queries = Seq(
        ("q1", "hash join batch"),
        ("q2", "window sort column"),
        ("q3", "customer order data stream")).toDF("qid", "qtext")
      graft.text.SearchIndex.rm3Search(s, store, "docs",
        t("documents")(s, d), "doc_id", "text", queries, "qid", "qtext")
    },

    // ---- MMR diversification of the fused ranking (the RAG stack's
    //      third stage: retrieve → fuse → diversify): greedy λ=0.7
    //      selection of 5 per query, each round trading relevance
    //      against max cosine redundancy with what's already chosen —
    //      bounded candidate sets by contract, one per-query greedy
    //      pass, every argmax (score desc, id asc)-deterministic,
    //      replayed end to end by OracleMmr ----
    // the oracle unrolls the greedy round by round (OracleMmr), with
    // candidates sourced from the embedded hybrid-search replay
    QueryDef("q_mmr_rerank", OracleMmr.mmrSql(hybridSearchSql, 0.7, 5)) { (s, d) =>
      val emb = t("embeddings")(s, d)
      graft.ops.Fusion.mmrRerank(
          hybridSearch(s, d).select(col("qid"),
            col("doc_id").as("id"), col("rrf_score").as("rel")),
          emb.select(col("vec_id").as("id"),
            col("embedding").as("vector")),
          lambda = 0.7, k = 5)
        .select(col("qid"), col("rank"), col("id").as("doc_id"),
          col("mmr_score"))
    },

    // ---- ordered conversion funnel (view → click → purchase, each
    //      strictly after the user's first completion of the prefix):
    //      a chain of min-aggregates all keyed on the user — one hash
    //      partitioning reused end to end, one bounded row per
    //      surviving user per stage, no per-user sequence scan ----
    // strictly-after first-occurrence semantics make every stage a
    // min-aggregate — engine-stable with no FP anywhere
    QueryDef("q_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
         SELECT 'view' AS stage, 1 AS step,
           (SELECT count(*) FROM s1) AS n_users
         UNION ALL SELECT 'click', 2, (SELECT count(*) FROM s2)
         UNION ALL SELECT 'purchase', 3, (SELECT count(*) FROM s3)""") { (s, d) =>
      graft.ops.Funnel.funnelCounts(
        t("events")(s, d), col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))
    },

    // ---- integer-exact PageRank (3 iterations) over the
    //      customer↔supplier trade graph: ranks as 10⁻⁹-scale longs,
    //      every step integer division — bit-identical on any layout
    //      and replayable by the oracle, which a float PageRank's FP
    //      sum order could never promise. Up to 100k edges the
    //      iterations run on the driver (sf0.01 has 97k); above, one
    //      rank⋈edges join + one dst-keyed long sum per iteration,
    //      partitioning reused ----
    // the whole iteration is BIGINT floor division and sums — DuckDB's
    // // replays Spark's div exactly on the positive ranks
    QueryDef("q_pagerank",
      """WITH cs AS (
           SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS p
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         e AS (SELECT c AS src, p AS dst FROM cs
               UNION ALL SELECT p, c FROM cs),
         nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         params AS (SELECT count(*) AS n FROM nodes),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         r0 AS (SELECT node, 1000000000 // n AS rank
                FROM nodes CROSS JOIN params),
         c1 AS (SELECT e.dst AS node, sum(r0.rank // deg.deg) AS cs
                FROM e JOIN r0 ON e.src = r0.node
                JOIN deg ON e.src = deg.src GROUP BY 1),
         r1 AS (SELECT nodes.node,
                  15000000000 // (100 * params.n) +
                  (85 * coalesce(c1.cs, 0)) // 100 AS rank
                FROM nodes CROSS JOIN params
                LEFT JOIN c1 ON c1.node = nodes.node),
         c2 AS (SELECT e.dst AS node, sum(r1.rank // deg.deg) AS cs
                FROM e JOIN r1 ON e.src = r1.node
                JOIN deg ON e.src = deg.src GROUP BY 1),
         r2 AS (SELECT nodes.node,
                  15000000000 // (100 * params.n) +
                  (85 * coalesce(c2.cs, 0)) // 100 AS rank
                FROM nodes CROSS JOIN params
                LEFT JOIN c2 ON c2.node = nodes.node),
         c3 AS (SELECT e.dst AS node, sum(r2.rank // deg.deg) AS cs
                FROM e JOIN r2 ON e.src = r2.node
                JOIN deg ON e.src = deg.src GROUP BY 1),
         r3 AS (SELECT nodes.node,
                  15000000000 // (100 * params.n) +
                  (85 * coalesce(c3.cs, 0)) // 100 AS rank
                FROM nodes CROSS JOIN params
                LEFT JOIN c3 ON c3.node = nodes.node)
         SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""") { (s, d) =>
      val li = t("lineitem")(s, d).select("l_orderkey", "l_suppkey")
      val o = t("orders")(s, d).select("o_orderkey", "o_custkey")
      val cs = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000L).as("p"))
        .distinct()
      val edges = cs.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(cs.select(col("p").as("src"), col("c").as("dst")))
      graft.ops.Graph.pageRankInt(edges, col("src"), col("dst"), iters = 3)
    },

    // ---- funnel time-to-convert histogram: users completing
    //      view→click→purchase banded by whole days between first
    //      view and funnel completion — fixed integer-microsecond
    //      bands (no percentile sort), exact on any layout/engine ----
    // the q_funnel stage chain + integer-microsecond banding; micros
    // derive as epoch_ns // 1000 — the SAME floor the Spark loader
    // applies (ts div 1000), so band edges cannot shift by the
    // sub-microsecond nanos DuckDB still sees
    QueryDef("q_funnel_latency",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
         d AS (SELECT
             (epoch_ns(s3.t) // 1000) - (epoch_ns(s1.t) // 1000) AS du
           FROM s3 JOIN s1 ON s3.user_id = s1.user_id)
         SELECT du // 86400000000 AS band,
           count(*) AS n_users,
           CAST(min(du) AS BIGINT) AS min_us,
           CAST(max(du) AS BIGINT) AS max_us
         FROM d GROUP BY 1""") { (s, d) =>
      graft.ops.Funnel.conversionLatencyBands(
        t("events")(s, d), col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"),
        bandWidthUs = 86400L * 1000000L)
    },

    // ---- A/B conversion significance: deterministic variant split
    //      (user_id parity), per-USER conversion (a heavy buyer: ≥ 16
    //      purchase events), pooled two-proportion z-test — exact
    //      counts, one fixed sequence of correctly-rounded IEEE ops
    //      for z (9-dp rounded), so even the significance flag is
    //      engine-exact ----
    // the z expression mirrors the Scala operation sequence token for
    // token (each IEEE op correctly rounded; the sequence is the
    // contract), rounded to 9 dp before the threshold compare
    QueryDef("q_ab_test",
      """WITH u AS (
           SELECT user_id % 2 AS v, user_id,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 16
               THEN 1 ELSE 0 END AS c
           FROM events GROUP BY 1, 2),
         s AS (SELECT CAST(v AS VARCHAR) AS v, count(*) AS n,
             sum(c) AS k
           FROM u GROUP BY 1),
         a AS (SELECT * FROM s ORDER BY v LIMIT 1),
         b AS (SELECT * FROM s ORDER BY v DESC LIMIT 1),
         f AS (SELECT
             a.v AS variant_a, b.v AS variant_b,
             CAST(a.n AS BIGINT) AS n_a, CAST(a.k AS BIGINT) AS conv_a,
             CAST(b.n AS BIGINT) AS n_b, CAST(b.k AS BIGINT) AS conv_b,
             CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS p_a,
             CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS p_b,
             CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE) AS pp,
             CAST(a.n AS DOUBLE) AS nad, CAST(b.n AS DOUBLE) AS nbd
           FROM a CROSS JOIN b)
         SELECT variant_a, variant_b, n_a, conv_a, n_b, conv_b,
           p_a, p_b,
           CASE WHEN p_a = p_b THEN 0.0 ELSE
             round((p_a - p_b) /
               sqrt(pp * (1.0 - pp) * (1.0 / nad + 1.0 / nbd)), 9)
           END AS z,
           abs(CASE WHEN p_a = p_b THEN 0.0 ELSE
             round((p_a - p_b) /
               sqrt(pp * (1.0 - pp) * (1.0 / nad + 1.0 / nbd)), 9)
           END) > 1.96 AS significant
         FROM f""") { (s, d) =>
      val perUser = t("events")(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("np"))
      graft.ops.Experiment.abTest(
        perUser, pmod(col("user_id"), lit(2)), col("user_id"),
        col("np") >= 16L)
    },

    // ---- event-volume anomaly days: daily counts flagged by the
    //      robust median/MAD rule (|n − med| > 3·MAD) — all integer
    //      order statistics, so the flags are layout/engine-exact;
    //      the series is calendar-bounded, the cost is the count ----
    // lower-median order statistics replayed with row_number: rank
    // (n+1)//2 over (value, day) — ties on value don't affect an
    // order STATISTIC, the day tiebreak just makes rn total
    QueryDef("q_event_anomaly",
      """WITH daily AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
             count(*) AS n_events
           FROM events GROUP BY 1),
         n AS (SELECT count(*) AS n FROM daily),
         med AS (
           SELECT n_events AS median FROM (
             SELECT n_events,
               row_number() OVER (ORDER BY n_events, day) AS rn
             FROM daily) CROSS JOIN n
           WHERE rn = (n.n + 1) // 2),
         mad AS (
           SELECT dev AS mad FROM (
             SELECT abs(daily.n_events - med.median) AS dev,
               row_number() OVER (
                 ORDER BY abs(daily.n_events - med.median), day) AS rn
             FROM daily CROSS JOIN med) CROSS JOIN n
           WHERE rn = (n.n + 1) // 2)
         SELECT daily.day, daily.n_events,
           CAST(med.median AS BIGINT) AS median,
           CAST(mad.mad AS BIGINT) AS mad,
           abs(daily.n_events - med.median) > 3 * mad.mad AS is_anomaly
         FROM daily CROSS JOIN med CROSS JOIN mad""") { (s, d) =>
      val daily = t("events")(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Anomaly.robustOutliers(daily, "n_events", k = 3L)
    },

    // ---- k-anonymity audit: (segment, nation) combinations shared
    //      by fewer than 8 customers are re-identification risks —
    //      one hash aggregate + size filter; output is the SMALL
    //      groups by definition ----
    QueryDef("q_k_anonymity",
      """SELECT c_mktsegment, c_nationkey, count(*) AS group_size
         FROM customer
         GROUP BY 1, 2 HAVING count(*) < 8""") { (s, d) =>
      graft.ops.DataQuality.kAnonymityViolations(
        t("customer")(s, d), Seq("c_mktsegment", "c_nationkey"), k = 8L)
    },

    // ---- l-diversity audit: quasi groups whose members all fall in
    //      fewer than 3 account-balance bands leak the band by
    //      membership alone (homogeneity attack) ----
    QueryDef("q_l_diversity",
      """WITH b AS (SELECT c_mktsegment, c_nationkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_band
         FROM customer)
         SELECT c_mktsegment, c_nationkey,
           count(*) AS group_size,
           count(DISTINCT bal_band) AS n_sensitive
         FROM b GROUP BY 1, 2
         HAVING count(DISTINCT bal_band) < 3""") { (s, d) =>
      graft.ops.DataQuality.lDiversityViolations(
        t("customer")(s, d)
          .withColumn("bal_band",
            when(col("c_acctbal") < 0, "neg")
              .when(col("c_acctbal") < 5000, "mid").otherwise("high")),
        Seq("c_mktsegment", "c_nationkey"), "bal_band", l = 3L)
    },

    // ---- referential-integrity audit (orders ↔ lineitem on the
    //      order key): both sides pre-aggregate to one (key, count)
    //      row before the full-outer join, so the join carries
    //      |distinct keys| bounded rows at any fact volume ----
    QueryDef("q_ref_audit",
      """WITH l AS (SELECT l_orderkey AS k, count(*) AS ln
           FROM lineitem GROUP BY 1),
         r AS (SELECT o_orderkey AS k, count(*) AS rn
           FROM orders GROUP BY 1)
         SELECT
           count(*) FILTER (WHERE rn IS NULL) AS n_left_only_keys,
           count(*) FILTER (WHERE ln IS NULL) AS n_right_only_keys,
           count(*) FILTER (WHERE ln IS NOT NULL AND rn IS NOT NULL)
             AS n_matched_keys,
           -- CAST: a bare sum() comes back HUGEINT, which the
           -- harness's duckdb→pandas reader renders float64 (13623.0)
           -- against the Spark side's int64 — the r8 q_ref_audit red
           CAST(coalesce(sum(CASE WHEN ln > 1 THEN 1 END), 0) AS BIGINT)
             AS n_dup_left_keys,
           CAST(coalesce(sum(CASE WHEN rn > 1 THEN 1 END), 0) AS BIGINT)
             AS n_dup_right_keys,
           CAST(coalesce(sum(CASE WHEN rn IS NULL THEN ln END), 0) AS BIGINT)
             AS n_orphan_left_rows
         FROM l FULL OUTER JOIN r USING (k)""") { (s, d) =>
      graft.ops.DataQuality.refIntegrity(
        t("lineitem")(s, d), col("l_orderkey"),
        t("orders")(s, d), col("o_orderkey"))
    },

    // ---- cohort retention grid: users cohorted by first-activity
    //      week × activity-week offset. first-seen and the activity
    //      set are both user-keyed aggregates (one partitioning
    //      reused); the grid is one further hash aggregate ----
    // both engines truncate weeks to ISO Monday; the offset division
    // is exact integer arithmetic on day counts
    QueryDef("q_cohort_retention",
      """WITH first AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cw
           FROM events GROUP BY 1),
         act AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS aw
           FROM events)
         SELECT strftime(first.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', first.cw, act.aw) // 7 AS INTEGER)
             AS week_offset,
           count(*) AS n_users
         FROM act JOIN first ON act.user_id = first.user_id
         GROUP BY 1, 2""") { (s, d) =>
      val ev = t("events")(s, d)
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val act = ev
        .select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
        .distinct()
      act.join(first, Seq("user_id"))
        .groupBy(
          date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ---- event-transition matrix: per-user consecutive event-type
    //      bigrams (lag window ordered by (ts, event_id) — per-user
    //      partitions, so the sort never concentrates) ----
    // (ts, event_id) is a total order, so lag is deterministic
    QueryDef("q_event_transitions",
      """WITH seq AS (
           SELECT user_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS from_type,
             event_type AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n
         FROM seq WHERE from_type IS NOT NULL
         GROUP BY 1, 2""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t("events")(s, d)
        .select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("from_type"),
          col("event_type").as("to_type"))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- heavy hitters via mergeable frequent-items sketches:
    //      per-source SpaceSaving states (map size 64, far below the
    //      vocabulary, so eviction error is real) merged to a corpus
    //      list. The sketch's stored estimates are insertion-order
    //      dependent, so the query asserts the two HARD guarantees
    //      that survive any layout — every exact top-10 term with
    //      count > maxError is tracked (no false negatives) and every
    //      tracked match bounds its true count — against exact counts
    //      computed in the same query ----
    // sketch estimates are layout-dependent (SpaceSaving eviction
    // order); the oracle checks the exact top-10 counts and asserts
    // the in-query guarantee booleans — the q_hll_epochs pattern
    QueryDef("q_heavy_hitters",
      """WITH toks AS (
           SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
           FROM documents),
         c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1)
         SELECT term, cnt, TRUE AS tracked, TRUE AS in_bounds
         FROM c ORDER BY cnt DESC, term LIMIT 10""") { (s, d) =>
      import graft.functions.SketchAggs._
      val toks = t("documents")(s, d)
        .select(col("source"),
          explode(graft.text.TextOps.tokens(lower(col("text")))).as("term"))
      val merged = toks
        .groupBy(col("source")).agg(freqSketchAgg(col("term"), 64).as("s"))
        .agg(freqMergeAgg(col("s"), 64).as("m"))
        .select(freqItems(col("m")).as("items"),
          freqMaxError(col("m")).as("err"))
      val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(10)
      top.crossJoin(broadcast(merged)).select(
        col("term"), col("cnt"),
        (col("cnt") <= col("err") ||
          exists(col("items"), i => i("item") === col("term")))
          .as("tracked"),
        forall(filter(col("items"), i => i("item") === col("term")),
          i => i("lb") <= col("cnt") && col("cnt") <= i("ub"))
          .as("in_bounds"))
    },

    // ---- market-basket co-purchase pairs: parts bought together in
    //      the same order, support ≥ 3, via ops/Basket — the a-priori
    //      support prune runs exactly (items under 3 baskets can't
    //      reach pair support 3, so dropping them changes nothing)
    //      and the basket cap bounds any hot basket's pair quadratic
    //      (a no-op on TPC-H's ≤7-line orders; pinned on a 10⁴-item
    //      basket in BasketSpec) ----
    QueryDef("q_copurchase",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
         SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           count(*) AS support
         FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 HAVING count(*) >= 3""") { (s, d) =>
      graft.ops.Basket.coPurchasePairs(
          t("lineitem")(s, d), "l_orderkey", "l_partkey", minSupport = 3L)
        .withColumnRenamed("item_1", "p1")
        .withColumnRenamed("item_2", "p2")
    },

    // ---- "customers also bought" panel: top-3 co-purchase partners
    //      per part by support — the symmetrized pair table ranked by
    //      the bounded-heap top-k (≤ k-row states per item through
    //      the exchange), never a window sort of full partner lists ----
    // the symmetrized pair table ranked per item; (support desc,
    // other asc) is a total order, so row_number replays the
    // bounded-heap top-k exactly
    QueryDef("q_also_bought",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         p AS (
           SELECT a.l_partkey AS i1, b.l_partkey AS i2,
             count(*) AS support
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 3),
         sym AS (
           SELECT i1 AS item, i2 AS other, support FROM p
           UNION ALL
           SELECT i2, i1, support FROM p)
         SELECT item, CAST(rank AS INTEGER) AS rank, other, support
         FROM (
           SELECT item, other, support,
             row_number() OVER (PARTITION BY item
               ORDER BY support DESC, other) AS rank
           FROM sym)
         WHERE rank <= 3""") { (s, d) =>
      graft.ops.Basket.alsoBought(
        t("lineitem")(s, d), "l_orderkey", "l_partkey",
        k = 3, minSupport = 3L)
    },

    // ---- association strength behind the support counts: PMI
    //      ("lift", nano-nats on the 9-dp lattice) per co-purchase
    //      pair — per-item basket counts via item-keyed joins, basket
    //      total by broadcast ----
    // same pair table, same 9-dp lattice log with the identical
    // double op sequence ((s·n)/(c1·c2), longs cast before multiply)
    QueryDef("q_basket_pmi",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey
           FROM lineitem),
         e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                 CAST(count(*) AS BIGINT) AS support
               FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 3),
         c AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
               FROM lp GROUP BY 1),
         nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
                FROM lp)
         SELECT p1, p2, support,
           CAST(CAST(round(ln((CAST(support AS DOUBLE) * n) /
               (CAST(c1.c AS DOUBLE) * c2.c)), 9) AS DECIMAL(20,9))
             * 1000000000 AS BIGINT) AS pmi_nano
         FROM e JOIN c c1 ON c1.l_partkey = e.p1
           JOIN c c2 ON c2.l_partkey = e.p2, nb""") { (s, d) =>
      graft.ops.Basket.pmiPairs(
          t("lineitem")(s, d), "l_orderkey", "l_partkey",
          minSupport = 3L)
        .withColumnRenamed("item_1", "p1")
        .withColumnRenamed("item_2", "p2")
    },

    // ---- co-purchase community density: per-item triangle counts
    //      over the support>=2 co-purchase graph — degree-ordered
    //      orientation bounds the wedge fan-out by O(sqrt(m)) on any
    //      graph (hub edges orient INTO the hub), all-integer so the
    //      oracle replays to hash equality ----
    // the degree-ordered orientation is a strict total order on
    // (degree, id), so the oriented DAG — and with it the one wedge
    // per triangle — is engine-independent; all arithmetic integer
    QueryDef("q_triangle_count",
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (
           SELECT x, count(*) AS d FROM (
             SELECT u AS x FROM e UNION ALL SELECT v FROM e)
           GROUP BY 1),
         o AS (
           SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.u ELSE e.v END AS a,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                    THEN e.v ELSE e.u END AS b
           FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
         tri AS (
           SELECT e1.a, e1.b, e2.b AS c
           FROM o e1 JOIN o e2 ON e1.b = e2.a
           JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
         pv AS (
           SELECT node, count(*) AS n_triangles FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b FROM tri
             UNION ALL SELECT c FROM tri)
           GROUP BY 1)
         SELECT pv.node AS item, pv.n_triangles, deg.d AS degree
         FROM pv JOIN deg ON deg.x = pv.node""") { (s, d) =>
      graft.ops.Graph.triangleCounts(
        graft.ops.Basket.coPurchasePairs(
          t("lineitem")(s, d), "l_orderkey", "l_partkey",
          minSupport = 2L),
        col("item_1"), col("item_2"))
        .select(col("node").as("item"), col("n_triangles"),
          col("degree"))
    },

    // ---- Markov removal-effect attribution: channel credit = how
    //      much P(conversion) drops when the channel stops passing
    //      mass — the data-driven model that pays assist channels.
    //      Bulk work is one user-keyed transition count; the solve is
    //      a 60-step integer-exact truncated absorption fixpoint over
    //      the collected k x k matrix (pageRankInt discipline), so
    //      the oracle replays it verbatim (OracleMarkov) ----
    // generated unrolled-CTE replay of the 60-step integer-exact
    // absorption solve — see OracleMarkov's scaladoc
    QueryDef("q_markov_attribution", OracleMarkov.sql) { (s, d) =>
      graft.ops.Attribution.markovAttribution(
        t("events")(s, d), col("user_id"), col("ts"), col("event_id"),
        col("event_type"), touchTypes = OracleMarkov.Touches,
        conversionType = OracleMarkov.Conversion,
        iters = OracleMarkov.Iters)
    },

    // ---- purchase attribution: credit each purchase to the user's
    //      first and last preceding touch (click/view/signup) — one
    //      user-keyed exchange, user-partitioned windows, exact
    //      DECIMAL value sums; unattributed purchases surface as
    //      'none' rather than dropping ----
    // (ts, event_id) is a total order per user, so the IGNORE NULLS
    // window lookups replay exactly; value sums in exact DECIMAL
    QueryDef("q_attribution",
      """WITH tagged AS (
           SELECT event_id, user_id, ts, event_type, value,
             CASE WHEN event_type IN ('click', 'view', 'signup')
               THEN event_type END AS touch
           FROM events),
         attr AS (
           SELECT event_type, value,
             first_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel_first,
             last_value(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel_last
           FROM tagged)
         SELECT coalesce(channel_first, 'none') AS first_touch,
           coalesce(channel_last, 'none') AS last_touch,
           count(*) AS n_purchases,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS attributed_value
         FROM attr WHERE event_type = 'purchase'
         GROUP BY 1, 2""") { (s, d) =>
      graft.ops.Attribution.attribute(
          t("events")(s, d), col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          touchTypes = Seq("click", "view", "signup"),
          conversionType = "purchase")
        .groupBy(coalesce(col("channel_first"), lit("none")).as("first_touch"),
          coalesce(col("channel_last"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_purchases"),
          // exact decimal accumulation, finished as a rounded double —
          // the OracleLint rule (decimal outputs can never hash-match
          // across the harness's two parquet readers)
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("attributed_value"))
    },

    // ---- part skyline: the Pareto frontier minimizing retail price
    //      while maximizing size — no pairwise comparison anywhere:
    //      one x-class aggregate + banded strict-prefix maxima (bulk
    //      rows shuffle once; the only window is band-partitioned
    //      over x-classes). Oracle is the NOT EXISTS dominance SQL ----
    // the textbook dominance form — the engine's banded two-pass is
    // an exact evaluation of the same predicate, never an approximation
    QueryDef("q_skyline",
      """SELECT p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
           AND NOT EXISTS (
             SELECT 1 FROM part q
             WHERE q.p_retailprice <= p.p_retailprice
               AND q.p_size >= p.p_size
               AND (q.p_retailprice < p.p_retailprice
                    OR q.p_size > p.p_size))""") { (s, d) =>
      graft.ops.Skyline.skyline2d(
          t("part")(s, d), col("p_retailprice"), col("p_size"),
          minimizeX = true, maximizeY = true)
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    },

    // ---- the same frontier on the FACT table (cheapest price for a
    //      given quantity band across 60k line items) — the shape the
    //      banded two-pass exists for: the x-class aggregate carries
    //      the bulk, the windows stay band-local ----
    QueryDef("q_skyline_lineitem",
      """SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice,
           p.l_quantity
         FROM lineitem p
         WHERE p.l_extendedprice IS NOT NULL AND p.l_quantity IS NOT NULL
           AND NOT EXISTS (
             SELECT 1 FROM lineitem q
             WHERE q.l_extendedprice <= p.l_extendedprice
               AND q.l_quantity >= p.l_quantity
               AND (q.l_extendedprice < p.l_extendedprice
                    OR q.l_quantity > p.l_quantity))""") { (s, d) =>
      graft.ops.Skyline.skyline2d(
          t("lineitem")(s, d), col("l_extendedprice"), col("l_quantity"),
          minimizeX = true, maximizeY = true)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_quantity"))
    },

    // ---- co-purchase 3-core: the maximal subgraph where every item
    //      keeps >= 3 co-purchase partners — the density filter that
    //      isolates genuinely connected product communities from
    //      one-off pairings. Monotone peel to the unique fixpoint
    //      (convergence probed by edge count — sound because edges
    //      only leave), all-integer, oracle replays the peel unrolled ----
    // the monotone peel has a unique fixpoint, so the unrolled rounds
    // (12 here; fixpoint at 10 on this graph, extras are no-ops)
    // replay the convergence-probed engine loop exactly
    QueryDef("q_kcore", graft.ops.Graph.kCoreOracleSql(
      """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e0 AS MATERIALIZED (
           SELECT a.l_partkey AS u, b.l_partkey AS v
           FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2)""",
      k = 3, rounds = 12, nodeAlias = "item")) { (s, d) =>
      graft.ops.Graph.kCore(
        graft.ops.Basket.coPurchasePairs(
          t("lineitem")(s, d), "l_orderkey", "l_partkey",
          minSupport = 2L),
        col("item_1"), col("item_2"), k = 3)
        .select(col("node").as("item"), col("degree"))
    },

    // ---- RFM customer segmentation: recency/frequency/monetary
    //      VALUE bands (fixed thresholds, not global ranks — a global
    //      ntile would single-partition sort at scale); money sums in
    //      exact DECIMAL so band edges cannot flip cross-engine ----
    // integer band thresholds on exact decimal sums / day counts —
    // no FP anywhere, so band membership cannot flip cross-engine
    QueryDef("q_rfm",
      """WITH agg AS (
           SELECT o_custkey,
             date_diff('day', max(o_orderdate), DATE '1998-08-02')
               AS recency_days,
             count(*) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
           FROM orders GROUP BY 1),
         bands AS (
           SELECT o_custkey,
             CASE WHEN recency_days <= 180 THEN 3
                  WHEN recency_days <= 720 THEN 2 ELSE 1 END AS r_band,
             CASE WHEN frequency >= 12 THEN 3
                  WHEN frequency >= 6 THEN 2 ELSE 1 END AS f_band,
             CASE WHEN monetary >= 1500000 THEN 3
                  WHEN monetary >= 600000 THEN 2 ELSE 1 END AS m_band
           FROM agg)
         SELECT r_band, f_band, m_band, count(*) AS n_customers
         FROM bands GROUP BY 1, 2, 3""") { (s, d) =>
      val o = t("orders")(s, d)
      val maxDate = to_date(lit("1998-08-02"))
      o.groupBy(col("o_custkey"))
        .agg(datediff(maxDate, max(col("o_orderdate"))).as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
        .select(col("o_custkey"),
          when(col("recency_days") <= 180, 3)
            .when(col("recency_days") <= 720, 2).otherwise(1).as("r_band"),
          when(col("frequency") >= 12, 3)
            .when(col("frequency") >= 6, 2).otherwise(1).as("f_band"),
          when(col("monetary") >= 1500000, 3)
            .when(col("monetary") >= 600000, 2).otherwise(1).as("m_band"))
        .groupBy(col("r_band"), col("f_band"), col("m_band"))
        .agg(count(lit(1)).as("n_customers"))
    },

    // ---- BM25 search over the PERSISTED inverted index (built 90%
    //      bulk + 10% incremental in the fixture): only the query
    //      terms' buckets are read from the postings table, and the
    //      result must hash-match the SAME oracle as the live-corpus
    //      q_bm25_search — certifying the whole index path (layout,
    //      stats meta, incremental merge) lossless ----
    QueryDef("q_bm25_search_indexed", bm25SearchSql) { (s, d) =>
      import s.implicits._
      val store = new graft.streaming.TableStore(searchIndexFixture(s, d))
      val queries = Seq(
        ("q1", "hash join batch"),
        ("q2", "window sort column"),
        ("q3", "customer order data stream")).toDF("qid", "qtext")
      graft.text.SearchIndex.search(s, store, "docs",
        queries, "qid", "qtext")
    },

    // ---- materialized-view rewrite: the plain per-returnflag
    //      aggregate over the lineitem FACT table, answered from
    //      AggMaintain state by the Catalyst MvRewriteRule — the read
    //      half of incremental MV maintenance. `rewritten` is read off
    //      the optimized plan, so green requires BOTH the rewrite
    //      firing (state files scanned, fact files not) AND its answer
    //      hash-matching DuckDB running the same SQL on the raw fact
    //      rows. At 100 TB this is the difference between a full
    //      corpus scan + shuffle and a read of |groups| rows ----
    // the oracle recomputes from the raw fact rows — the Spark side
    // answers from the maintained MV state, so a hash match proves the
    // rewrite is semantically invisible. l_quantity is integral, so
    // DuckDB's FP sum and the state's exact decimal sum agree with no
    // rounding. `rewritten` asserts the plan actually read the state.
    QueryDef("q_mv_rewrite",
      """SELECT l_returnflag, count(*) AS n_items,
         sum(l_quantity) AS sum_qty,
         avg(l_quantity) AS avg_qty,
         min(l_quantity) AS min_qty,
         max(l_quantity) AS max_qty,
         TRUE AS rewritten
         FROM lineitem GROUP BY 1""") { (s, d) =>
      mvFixture(s, d)
      val agg = t("lineitem")(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum("l_quantity").as("sum_qty"),
          // avg is FINISHED from the state's (sum_v, n) at rewrite
          // time — the r8 verdict's "textbook extension"; exact here
          // because l_quantity is integral, so both engines' sums
          // (decimal state, double direct/DuckDB) divide identically
          avg("l_quantity").as("avg_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"))
      val fired = agg.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
            if lr.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
          lr.relation
            .asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
      agg.select(col("l_returnflag"), col("n_items"), col("sum_qty"),
        col("avg_qty"), col("min_qty"), col("max_qty"),
        lit(fired.exists(_.contains("graft_mv_")) &&
          !fired.exists(_.contains("lineitem.parquet"))).as("rewritten"))
    },

    // ---- exact weighted quantiles of line price (cents) per return
    //      flag, quantity-weighted: the cumulative window runs over
    //      the DISTINCT (flag, cents) value domain (pre-aggregated),
    //      never fact rows, and the threshold test is a pure-long
    //      cross-multiplication — no division anywhere ----
    // inclusive weighted quantile replayed value-domain-wise; the
    // threshold is the same cross-multiplication as the engine
    // (cumw*100 >= pct*totw — integer-exact in both engines)
    QueryDef("q_weighted_quantiles",
      """WITH byv AS (
           SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             SUM(CAST(round(l_quantity) AS BIGINT)) AS wsum
           FROM lineitem GROUP BY 1, 2),
         cum AS (
           SELECT l_returnflag, v,
             CAST(SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumw,
             CAST(SUM(wsum) OVER (PARTITION BY l_returnflag)
               AS BIGINT) AS totw
           FROM byv)
         SELECT l_returnflag, pct, MIN(v) AS value_cents
         FROM cum CROSS JOIN (VALUES (25), (50), (75), (90)) p(pct)
         WHERE cumw * 100 >= CAST(pct AS BIGINT) * totw
         GROUP BY 1, 2""") { (s, d) =>
      graft.ops.Stats.weightedQuantiles(
          t("lineitem")(s, d),
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"),
          round(col("l_quantity")).cast("long"),
          Seq(25, 50, 75, 90))
        .select(col("g").as("l_returnflag"), col("pct"),
          col("value").as("value_cents"))
    },

    // ---- Gini concentration of customer spend within each market
    //      segment: ranks via the two-pass range-partitioned row
    //      number (no per-group single-task sort), Σi·x in
    //      DECIMAL(38,0) ----
    // rank·value moments exact in HUGEINT (mirror of the engine's
    // DECIMAL(38,0)); ONE double division under round(,6) — ties in
    // spend permute equal x among adjacent ranks, leaving Σi·x fixed
    QueryDef("q_gini",
      """WITH spend AS (
           SELECT c.c_mktsegment AS g, c.c_custkey AS k,
             SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           GROUP BY 1, 2),
         ranked AS (
           SELECT g, x,
             row_number() OVER (PARTITION BY g ORDER BY x, k) AS i
           FROM spend)
         SELECT g AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(2 * SUM(CAST(i AS HUGEINT) * x)
               - (count(*) + 1) * SUM(x) AS DOUBLE) /
             CAST(count(*) * SUM(x) AS DOUBLE), 6) AS gini
         FROM ranked GROUP BY g""") { (s, d) =>
      val spend = t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .join(t("customer")(s, d),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Stats.gini(
          spend, col("c_mktsegment"), col("c_custkey"), col("cents"))
        .withColumnRenamed("g", "c_mktsegment")
    },

    // ---- Benford first-digit audit of order totals (cents): one
    //      map-side 9-bucket histogram against the pinned
    //      log10(1+1/d) expectation ----
    // the 9 expected shares are the engine's pinned literals, not a
    // live log10 (last-ulp cross-library divergence)
    QueryDef("q_benford",
      """WITH d AS (
           SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
             AS digit
           FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
                 FROM orders)
           WHERE v > 0),
         h AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM h)
         SELECT digit, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) * 100.0, 6)
             AS obs_pct,
           round(CASE digit
             WHEN 1 THEN 30.103 WHEN 2 THEN 17.609126
             WHEN 3 THEN 12.493874 WHEN 4 THEN 9.691001
             WHEN 5 THEN 7.918125 WHEN 6 THEN 6.694679
             WHEN 7 THEN 5.799195 WHEN 8 THEN 5.115252
             ELSE 4.575749 END, 6) AS exp_pct
         FROM h CROSS JOIN t""") { (s, d) =>
      graft.ops.Stats.benford(
        t("orders")(s, d),
        round(col("o_totalprice") * 100).cast("long"))
    },

    // ---- popularity-weighted negative sampling (contrastive /
    //      recsys training prep): 3 deterministic md5 draws per
    //      positive from the item catalog ∝ purchase count, inverse-
    //      CDF over the driver-bounded catalog, collisions filtered
    //      by one (user, item)-keyed anti-join ----
    // identical md5 draw string, '0x'-cast hex → BIGINT mod W, and
    // inverse-CDF via ASOF JOIN on the same cumulative starts — a
    // Spark-side binary-search bug lands on a different item and
    // breaks the hash
    QueryDef("q_negative_samples",
      """WITH pos AS (SELECT DISTINCT o_custkey AS u, l_partkey AS p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         w AS (SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS w
               FROM lineitem GROUP BY 1),
         cum AS (SELECT item, CAST(coalesce(sum(w) OVER (ORDER BY item
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS start FROM w),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS W FROM w),
         draws AS (SELECT u, p, CAST(r.j AS INT) AS j,
             CAST(CAST(('0x' || substr(md5('neg:' ||
               CAST(u AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ':'
               || CAST(r.j AS VARCHAR)), 1, 12)) AS UBIGINT)
               AS BIGINT) % W AS h
           FROM pos, range(3) r(j), tot),
         pick AS (SELECT d.u, d.p, d.j, c.item AS neg_item
           FROM draws d ASOF JOIN cum c ON d.h >= c.start)
         SELECT u AS o_custkey, p AS pos_item, j, neg_item
         FROM pick d
         WHERE NOT EXISTS (SELECT 1 FROM pos
           WHERE pos.u = d.u AND pos.p = d.neg_item)""") { (s, d) =>
      val pos = t("orders")(s, d)
        .join(t("lineitem")(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_partkey")).distinct()
      val w = t("lineitem")(s, d)
        .groupBy(col("l_partkey").as("item"))
        .agg(count(lit(1)).as("w"))
      graft.ops.Sampling.popularityNegatives(
          pos, col("o_custkey"), col("l_partkey"),
          w, col("item"), col("w"), k = 3)
        .select(col("u").as("o_custkey"), col("pos_item"), col("j"),
          col("neg_item"))
    },

    // ---- classifier evaluation: the quality heuristic scored as a
    //      predictor of the length label — confusion matrix plus
    //      precision/recall/F1 in integer basis points; one
    //      conditional aggregate, four longs through the exchange ----
    // identical predicates (the q_doc_quality tokenizer/punct rules),
    // F1 from the direct integer formula — floor division both sides
    QueryDef("q_confusion",
      """WITH l AS (SELECT
             len(regexp_extract_all(text, '\S+')) >= 30 AS t,
             (len(regexp_extract_all(text, '\S+')) >= 10 AND
              len(regexp_extract_all(text, '[.,!?;:]')) * 2
                <= len(regexp_extract_all(text, '\S+'))) AS p
           FROM documents),
         c AS (SELECT
             CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
               AS tp,
             CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
           FROM l)
         SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 THEN tp * 10000 // (tp + fp)
             ELSE 0 END AS precision_bp,
           CASE WHEN tp + fn > 0 THEN tp * 10000 // (tp + fn)
             ELSE 0 END AS recall_bp,
           CASE WHEN 2*tp + fp + fn > 0
             THEN 2 * tp * 10000 // (2*tp + fp + fn)
             ELSE 0 END AS f1_bp
         FROM c""") { (s, d) =>
      import graft.text.TextOps._
      graft.ops.RankEval.confusion(
        t("documents")(s, d),
        truthCol = tokenCount(col("text")) >= 30,
        predCol = qualityOk(col("text")))
    },

    // ---- z-score feature standardization per group: μ/σ from ONE
    //      exact-DECIMAL moment aggregate (the q_corr_exact
    //      discipline) broadcast back; z = (n·x − S)/√(n·Sxx − S²) —
    //      the numerator exact integer, ONE sqrt and ONE division per
    //      row in fixed order, rounded to 6 dp. The fact table never
    //      shuffles. Moment types stay NARROW (the playbook rule —
    //      decimal products past precision 38 silently rescale or
    //      null): x ≤ ~1e7 cents, so n(13)·Sxx(26) and S(20)² both
    //      fit decimal(38) up to n = 1e11 rows PER GROUP; the
    //      discriminant computes ONCE per group on the bounded moment
    //      table, and past-budget overflow (null) RAISES instead of
    //      silently z=0 for the whole group ----
    // the q_corr_exact moment discipline row-wise: exact integer
    // numerator, one sqrt + one division in fixed order, round(,6)
    QueryDef("q_feature_scale",
      """WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(round(l_extendedprice*100) AS BIGINT) AS x
           FROM lineitem),
         m AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(x) AS HUGEINT) AS sx,
                 CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx
               FROM base GROUP BY 1)
         SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
           CASE WHEN (n*sxx - sx*sx) > 0 THEN
             round(CAST(n*x - sx AS DOUBLE) /
               sqrt(CAST(n*sxx - sx*sx AS DOUBLE)), 6)
           ELSE 0.0 END AS z
         FROM base b JOIN m USING (l_returnflag)""") { (s, d) =>
      val base = t("lineitem")(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("x"))
      val m = base.groupBy(col("l_returnflag").as("_fg"))
        .agg(count(lit(1)).cast("decimal(13,0)").as("n"),
          sum(col("x").cast("decimal(10,0)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(16,0)")).as("sxx"))
        // d = n·Sxx − S² on the ≤-one-row-per-group moment table;
        // n·sxx is decimal(13,0)·decimal(26,0) → 38 digits, exact to
        // 1e38; a null here IS the overflow signal
        .select(col("_fg"), col("n"), col("sx"),
          (col("n") * col("sxx") - col("sx") * col("sx")).as("d"))
      base.join(broadcast(m), col("l_returnflag") === col("_fg"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          when(col("d").isNull,
            raise_error(lit("q_feature_scale: moment discriminant " +
              "overflowed decimal(38) — group past the documented " +
              "n<=1e11 budget")).cast("double"))
            .when(col("d") > 0,
              round((col("n") * col("x") - col("sx")).cast("double") /
                sqrt(col("d").cast("double")), 6))
            .otherwise(lit(0.0)).as("z"))
    },

    // ---- temporal train/holdout split at the EXACT inclusive 80th
    //      percentile of event time — the banded quantile machinery
    //      on micros (no calendar assumption), cutoff broadcast back;
    //      the leakage-free split for time-series models ----
    // the inclusive order-statistic cutoff on event micros, then one
    // grouped count per side — identical rule both engines
    QueryDef("q_temporal_split",
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us
           FROM events WHERE ts IS NOT NULL),
         dom AS (SELECT us, count(*) AS cnt FROM ev GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dom),
         cum AS (SELECT us, CAST(sum(cnt) OVER (ORDER BY us)
             AS BIGINT) AS cw FROM dom),
         cut AS (SELECT min(us) AS cut_us FROM cum, tot
                 WHERE 100*cw >= 80*n)
         SELECT CASE WHEN us <= cut_us THEN 'train' ELSE 'holdout' END
             AS split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           max(cut_us) AS cut_us
         FROM ev, cut GROUP BY 1""") { (s, d) =>
      val ev = t("events")(s, d)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), lit(1L).as("one"),
          unix_micros(col("ts")).as("us"))
      val cut = graft.ops.Stats.weightedQuantiles(
          ev, lit("all"), col("us"), col("one"), Seq(80))
        .select(col("value").as("cut_us"))
      ev.crossJoin(broadcast(cut))
        .groupBy(when(col("us") <= col("cut_us"), "train")
          .otherwise("holdout").as("split"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          max(col("cut_us")).as("cut_us"))
    },

    // ---- seasonal-naive forecast evaluation: predict each day's
    //      revenue by the same weekday last week, report integer MAE
    //      and WAPE (basis points) — the baseline every forecasting
    //      pipeline must beat, on calendar-bounded rows after one
    //      day-keyed aggregate ----
    // identical integer arithmetic: the d−7 self-join on the daily
    // series, HALF_UP quotients for MAE and WAPE
    QueryDef("q_seasonal_naive",
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         j AS (SELECT a.cents, b.cents AS pred
               FROM daily a JOIN daily b
                 ON a.dt = b.dt + INTERVAL 7 DAY),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                 CAST(sum(abs(cents - pred)) AS HUGEINT) AS sae,
                 CAST(sum(cents) AS HUGEINT) AS sa FROM j)
         SELECT n_days,
           CAST((2*sae + n_days) // (2*n_days) AS BIGINT) AS mae_cents,
           CAST((2*sae*10000 + sa) // (2*sa) AS BIGINT) AS wape_bp
         FROM s""") { (s, d) =>
      // calendar-bounded after one day-keyed agg; checkpointed so the
      // prediction side reuses it instead of re-scanning the fact
      val daily = dailyOrderCents(s, d)
        .select(to_date(col("day")).as("dt"), col("cents"))
        .localCheckpoint()
      val pred = daily.select(date_add(col("dt"), 7).as("dt"),
        col("cents").as("pred"))
      daily.join(pred, Seq("dt"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("cents") - col("pred"))
            .cast("decimal(38,0)")).as("sae"),
          sum(col("cents").cast("decimal(38,0)")).as("sa"))
        // HALF_UP integer quotients — sae/sa are non-negative
        .select(col("n_days"),
          expr("(2 * sae + n_days) div (2 * n_days)").as("mae_cents"),
          expr("(2 * sae * 10000 + sa) div (2 * sa)").as("wape_bp"))
    },

    // ---- Theil T inequality of customer spend per segment — the
    //      decomposable, top-sensitive companion to q_gini on the
    //      same fixture; fact-scale 9-dp lattice logs on the
    //      checkpointed value domain, integer nano-nat output ----
    // same per-distinct-value 9-dp lattice log (identical double op
    // sequence), Σ c·v·l9 in exact integers, HALF_UP by the spend
    // total — the lm_score discipline at fact scale
    QueryDef("q_theil",
      """WITH spend AS (SELECT c_mktsegment AS g, o_custkey,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
               AS BIGINT) AS v
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         dom AS (SELECT g, v, count(*) AS cnt FROM spend GROUP BY 1, 2),
         tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(v*cnt) AS BIGINT) AS s FROM dom GROUP BY 1),
         cell AS (SELECT dom.g AS g, cnt, v, n, s,
             CASE WHEN v > 0 AND s > 0 THEN
               CAST(CAST(round(ln((CAST(v AS DOUBLE) * n) /
                   CAST(s AS DOUBLE)), 9) AS DECIMAL(20,9))
                 * 1000000000 AS BIGINT)
             ELSE 0 END AS l9
           FROM dom JOIN tot ON tot.g = dom.g),
         agg AS (SELECT g, max(n) AS n, max(s) AS s,
                   CAST(sum(CAST(cnt AS HUGEINT) * v * l9) AS HUGEINT)
                     AS num
                 FROM cell GROUP BY 1)
         SELECT g AS c_mktsegment, n AS n_rows,
           CAST(CASE WHEN s > 0 THEN
               (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
               ((2*abs(num) + s) // (2*s))
             ELSE 0 END AS BIGINT) AS theil_nano
         FROM agg""") { (s, d) =>
      val spend = t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .join(t("customer")(s, d),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Stats.theil(spend, col("c_mktsegment"), col("cents"))
        .withColumnRenamed("g", "c_mktsegment")
    },

    // ---- winsorized mean of line price per return flag: values
    //      clamped to the exact [p5, p95] order statistics (banded
    //      quantile thresholds broadcast back), mean on the 6-dp
    //      integer lattice — the robust mean beside q_mad_outliers --
    // thresholds replay the inclusive order-statistic rule at p5/p95;
    // the clamped mean is the HALF_UP 6-dp integer quotient
    QueryDef("q_winsorized_mean",
      """WITH dom AS (SELECT l_returnflag AS g,
             CAST(round(l_extendedprice*100) AS BIGINT) AS v,
             count(*) AS cnt
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n
                 FROM dom GROUP BY 1),
         cum AS (SELECT g, v, cnt, CAST(sum(cnt) OVER
             (PARTITION BY g ORDER BY v) AS BIGINT) AS cw FROM dom),
         lo AS (SELECT cum.g, min(v) AS lo
                FROM cum JOIN tot ON tot.g = cum.g
                WHERE 100*cw >= 5*n GROUP BY 1),
         hi AS (SELECT cum.g, min(v) AS hi
                FROM cum JOIN tot ON tot.g = cum.g
                WHERE 100*cw >= 95*n GROUP BY 1),
         cl AS (SELECT dom.g AS g, cnt,
                  greatest(lo.lo, least(hi.hi, v)) AS cv, lo.lo, hi.hi
                FROM dom JOIN lo ON lo.g = dom.g
                  JOIN hi ON hi.g = dom.g),
         agg AS (SELECT g, max(lo) AS lo, max(hi) AS hi,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(cv AS HUGEINT) * cnt) AS HUGEINT)
                     AS csum
                 FROM cl GROUP BY 1)
         SELECT g AS l_returnflag, lo, hi, n_rows,
           CAST((CASE WHEN csum < 0 THEN -1 ELSE 1 END) *
             ((2*abs(csum)*1000000 + n_rows) // (2*n_rows))
             AS BIGINT) AS wmean_micro
         FROM agg""") { (s, d) =>
      graft.ops.Stats.winsorizedMean(
          t("lineitem")(s, d), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"))
        .withColumnRenamed("g", "l_returnflag")
    },

    // ---- robust outlier profile of line price per return flag:
    //      median / MAD / |v−m| > 3·MAD counts — ONE fact exchange
    //      (the checkpointed value domain), both medians through the
    //      banded quantile machinery, all-integer ----
    // both medians replay the engine's inclusive order-statistic rule
    // (min v with 2·cum >= n over the distinct-value domain) — the
    // same arithmetic the banded execution computes piecewise
    QueryDef("q_mad_outliers",
      """WITH dom AS (SELECT l_returnflag AS g,
             CAST(round(l_extendedprice*100) AS BIGINT) AS v,
             count(*) AS cnt
           FROM lineitem GROUP BY 1, 2),
         tot AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n
                 FROM dom GROUP BY 1),
         cum AS (SELECT g, v, cnt, CAST(sum(cnt) OVER
             (PARTITION BY g ORDER BY v) AS BIGINT) AS cw FROM dom),
         med AS (SELECT cum.g, min(v) AS m
                 FROM cum JOIN tot ON tot.g = cum.g
                 WHERE 2*cw >= n GROUP BY 1),
         dev AS (SELECT dom.g AS g, abs(v - m) AS dv,
                   CAST(sum(cnt) AS BIGINT) AS cnt
                 FROM dom JOIN med ON med.g = dom.g GROUP BY 1, 2),
         cum2 AS (SELECT g, dv, cnt, CAST(sum(cnt) OVER
             (PARTITION BY g ORDER BY dv) AS BIGINT) AS cw FROM dev),
         mad AS (SELECT cum2.g, min(dv) AS md
                 FROM cum2 JOIN tot ON tot.g = cum2.g
                 WHERE 2*cw >= n GROUP BY 1)
         SELECT dom.g AS l_returnflag, med.m AS median, mad.md AS mad,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN abs(v - m) > 3*md THEN cnt ELSE 0 END)
             AS BIGINT) AS n_outliers
         FROM dom JOIN med ON med.g = dom.g
           JOIN mad ON mad.g = dom.g
         GROUP BY 1, 2, 3""") { (s, d) =>
      graft.ops.Stats.madOutliers(
          t("lineitem")(s, d), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"), k = 3)
        .select(col("g").as("l_returnflag"), col("median"),
          col("mad"), col("n_rows"), col("n_outliers"))
    },

    // ---- 80/20 concentration: the smallest top-spender prefix
    //      holding 80% of each segment's revenue — descending-prefix
    //      boundary via the banded quantile over −v, then one
    //      domain-sized aggregate; never a per-group sort ----
    // descending-prefix boundary: vstar = largest spend value whose
    // top-down cumulative mass reaches ceil(80·T/100); k boundary
    // entities cover the remainder (ceil division), all-integer
    QueryDef("q_pareto_share",
      """WITH spend AS (SELECT c_mktsegment AS g, o_custkey,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
               AS BIGINT) AS v
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         dom AS (SELECT g, v, count(*) AS cnt FROM spend GROUP BY 1, 2),
         tot AS (SELECT g, CAST(sum(v*cnt) AS BIGINT) AS t,
                   CAST(sum(cnt) AS BIGINT) AS n FROM dom GROUP BY 1),
         th AS (SELECT g, t, n, (t*80 + 99) // 100 AS th FROM tot),
         cum AS (SELECT g, v, cnt, CAST(sum(v*cnt) OVER
             (PARTITION BY g ORDER BY v DESC) AS BIGINT) AS cw
           FROM dom),
         vs AS (SELECT cum.g, max(v) AS vstar
                FROM cum JOIN th ON th.g = cum.g
                WHERE cw >= th.th GROUP BY 1),
         ab AS (SELECT dom.g AS g, vs.vstar,
                  CAST(sum(CASE WHEN v > vstar THEN v*cnt ELSE 0 END)
                    AS BIGINT) AS above,
                  CAST(sum(CASE WHEN v > vstar THEN cnt ELSE 0 END)
                    AS BIGINT) AS cabove
                FROM dom JOIN vs ON vs.g = dom.g GROUP BY 1, 2),
         ntop AS (SELECT ab.g, th.n, vstar,
                    CASE WHEN th.th <= above THEN cabove
                      ELSE cabove + (th.th - above + vstar - 1) // vstar
                    END AS n_top
                  FROM ab JOIN th ON th.g = ab.g)
         SELECT g AS c_mktsegment, n AS n_entities, n_top,
           n_top * 10000 // n AS top_share_bp, vstar AS threshold
         FROM ntop""") { (s, d) =>
      val spend = t("orders")(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
        .join(t("customer")(s, d),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Stats.paretoTopShare(
          spend, col("c_mktsegment"), col("cents"), pct = 80)
        .withColumnRenamed("g", "c_mktsegment")
    },

    // ---- autocorrelation of the daily revenue series at lags 1..7:
    //      the fact table reduces to ≤ #days rows FIRST; Pearson from
    //      exact DECIMAL(38,0) moments (the q_corr_exact discipline) --
    // lagged pairs via an index self-join (engine: array-of-lags +
    // explode over one window); Pearson from HUGEINT-exact moments,
    // casts to DOUBLE in the engine's exact positions
    QueryDef("q_acf",
      """WITH s AS (
           SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
           FROM orders GROUP BY 1),
         idx AS (
           SELECT CAST(x AS BIGINT) AS x,
             row_number() OVER (ORDER BY day) AS t
           FROM s),
         p AS (
           SELECT k.lag_k, a.x AS x, b.x AS y
           FROM idx a
           CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7))
             k(lag_k)
           JOIN idx b ON b.t = a.t - k.lag_k)
         SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(count(*) * SUM(CAST(x AS HUGEINT) * y)
               - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT))
               AS DOUBLE) /
             (sqrt(CAST(count(*) * SUM(CAST(x AS HUGEINT) * x)
               - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT))
               AS DOUBLE)) *
              sqrt(CAST(count(*) * SUM(CAST(y AS HUGEINT) * y)
               - SUM(CAST(y AS HUGEINT)) * SUM(CAST(y AS HUGEINT))
               AS DOUBLE))), 6) AS acf
         FROM p GROUP BY 1""") { (s, d) =>
      graft.ops.Stats.acf(
          dailyOrderCents(s, d), col("day"), col("cents"), maxLag = 7)
        .select(col("lag").as("lag_k"), col("n_pairs"), col("acf"))
    },

    // ---- CUSUM changepoint of the same daily series: argmax of
    //      |n·S_t − t·T| in exact integer arithmetic, earliest-bucket
    //      tie-break ----
    // argmax of |n·S_t − t·T| exact in HUGEINT (engine: DECIMAL(38,0)),
    // the same earliest-bucket tie-break, means as one long/long
    // double division each under round(,6)
    QueryDef("q_cusum",
      """WITH s AS (
           SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS x
           FROM orders GROUP BY 1),
         c AS (
           SELECT day, x,
             row_number() OVER (ORDER BY day) AS t,
             CAST(SUM(x) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS HUGEINT) AS sp,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(SUM(x) OVER () AS HUGEINT) AS tt
           FROM s)
         SELECT day AS cp_bucket, n AS n_buckets,
           round(CAST(abs(n * sp - t * tt) AS DOUBLE), 6) AS stat,
           round(CAST(sp AS DOUBLE) / CAST(t AS DOUBLE), 6)
             AS mean_before,
           CASE WHEN t < n THEN
             round(CAST(tt - sp AS DOUBLE) / CAST(n - t AS DOUBLE), 6)
           END AS mean_after
         FROM c
         ORDER BY abs(n * sp - t * tt) DESC, day ASC
         LIMIT 1""") { (s, d) =>
      graft.ops.Stats.cusumChangepoint(
        dailyOrderCents(s, d), col("day"), col("cents"))
    },

    // ---- leave-one-out target encoding of market segment against
    //      order value: leakage-free mean feature, exact DECIMAL
    //      sums, per-segment state broadcast back — the fact table
    //      never shuffles ----
    // leave-one-out encoding replayed exactly: HUGEINT group sums
    // mirror the engine's DECIMAL(38,0); one double division per row
    // under round(,6); size-1 groups null on both sides
    QueryDef("q_target_encode",
      """WITH o AS (
           SELECT o_orderkey, c_mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey),
         a AS (
           SELECT c_mktsegment AS g,
             SUM(CAST(cents AS HUGEINT)) AS s, count(*) AS n
           FROM o GROUP BY 1)
         SELECT o_orderkey, o.c_mktsegment,
           CASE WHEN n > 1 THEN
             round(CAST(s - cents AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6)
           END AS loo_cents
         FROM o JOIN a ON o.c_mktsegment = a.g""") { (s, d) =>
      val o = t("orders")(s, d)
        .join(t("customer")(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ops.Encoding.looTargetEncode(
          o, col("c_mktsegment"), col("cents"), "loo_cents")
        .select(col("o_orderkey"), col("c_mktsegment"),
          col("loo_cents"))
    },

    // ---- equi-depth price quartile per return flag: exact order-
    //      statistic thresholds (value-domain cumulative pass)
    //      broadcast onto the fact scan; bin = integer comparison
    //      ladder in codegen ----
    // the same inclusive weighted-quantile CTE as
    // q_weighted_quantiles at unit weight, pivoted to thresholds;
    // the bin ladder is pure-integer on both sides
    QueryDef("q_quantile_bin",
      """WITH li AS (
           SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               AS price_cents
           FROM lineitem),
         byv AS (
           SELECT l_returnflag AS g, price_cents AS v, count(*) AS w
           FROM li GROUP BY 1, 2),
         cum AS (
           SELECT g, v,
             CAST(SUM(w) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumw,
             CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS totw
           FROM byv),
         q AS (
           SELECT g, pct, MIN(v) AS thr
           FROM cum CROSS JOIN (VALUES (25), (50), (75)) p(pct)
           WHERE cumw * 100 >= CAST(pct AS BIGINT) * totw
           GROUP BY 1, 2),
         thr AS (
           SELECT g,
             MAX(CASE WHEN pct = 25 THEN thr END) AS q25,
             MAX(CASE WHEN pct = 50 THEN thr END) AS q50,
             MAX(CASE WHEN pct = 75 THEN thr END) AS q75
           FROM q GROUP BY 1)
         SELECT l_orderkey, l_linenumber, l_returnflag, price_cents,
           1 + (CASE WHEN price_cents > q25 THEN 1 ELSE 0 END)
             + (CASE WHEN price_cents > q50 THEN 1 ELSE 0 END)
             + (CASE WHEN price_cents > q75 THEN 1 ELSE 0 END) AS bin
         FROM li JOIN thr ON li.l_returnflag = thr.g""") { (s, d) =>
      graft.ops.Encoding.quantileBins(
        t("lineitem")(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long")
              .as("price_cents")),
        col("l_returnflag"), col("price_cents"), 4, "bin")
    },

    // ---- Kaplan-Meier time-to-conversion: days from first signup
    //      to first subsequent purchase, right-censored at the
    //      corpus horizon; survival via the 9-dp lattice-log product
    //      (the lm_score discipline) ----
    // the product-limit curve replayed exactly: risk sets are a
    // reverse cumulative sum on the reduced per-duration series;
    // each factor is the SAME 9-dp lattice value round(ln(1-d/n), 9)
    // summed exactly in DECIMAL, one exp under round(,6); a
    // risk-set-emptying step short-circuits to 0 on both sides
    QueryDef("q_kaplan_meier",
      """WITH e AS (
           SELECT user_id, event_type, ts FROM events
           WHERE user_id IS NOT NULL),
         su AS (
           SELECT user_id, MIN(ts) AS su FROM e
           WHERE event_type = 'signup' GROUP BY 1),
         fp AS (
           SELECT s.user_id, s.su, MIN(p.ts) AS pu
           FROM su s LEFT JOIN e p ON p.user_id = s.user_id
             AND p.event_type = 'purchase' AND p.ts >= s.su
           GROUP BY 1, 2),
         mx AS (SELECT MAX(ts) AS mx FROM e),
         subj AS (
           SELECT
             CAST(CASE WHEN pu IS NOT NULL
               THEN date_diff('day', CAST(su AS DATE), CAST(pu AS DATE))
               ELSE date_diff('day', CAST(su AS DATE), CAST(mx AS DATE))
             END AS BIGINT) AS t,
             pu IS NOT NULL AS obs
           FROM fp CROSS JOIN mx),
         counts AS (
           SELECT t, SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
             count(*) AS c
           FROM subj GROUP BY 1),
         risk AS (
           SELECT t, d, c,
             CAST(SUM(c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
           FROM counts),
         lat AS (
           SELECT t, d, n_risk,
             CASE WHEN d > 0 AND d < n_risk THEN
               CAST(round(ln(1 - CAST(d AS DOUBLE) /
                 CAST(n_risk AS DOUBLE)), 9) AS DECIMAL(28,9))
             ELSE CAST(0 AS DECIMAL(28,9)) END AS lp,
             CASE WHEN d > 0 AND d = n_risk THEN 1 ELSE 0 END AS zf
           FROM risk),
         cumm AS (
           SELECT t, d, n_risk,
             SUM(lp) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS ls,
             SUM(zf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS zc
           FROM lat)
         SELECT t, n_risk, CAST(d AS BIGINT) AS d_events,
           CASE WHEN zc > 0 THEN CAST(0.0 AS DOUBLE)
             ELSE round(exp(CAST(ls AS DOUBLE)), 6) END AS survival
         FROM cumm WHERE d > 0""") { (s, d) =>
      val ev = t("events")(s, d).filter(col("user_id").isNotNull)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("su"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu_user"), col("ts").as("pts"))
      val firstPurchase = su
        .join(pu, col("user_id") === col("pu_user")
          && col("pts") >= col("su"), "left")
        .groupBy(col("user_id"), col("su"))
        .agg(min(col("pts")).as("pu"))
      val subj = firstPurchase
        .crossJoin(broadcast(ev.agg(max(col("ts")).as("mx"))))
        .select(
          when(col("pu").isNotNull,
            datediff(to_date(col("pu")), to_date(col("su"))))
            .otherwise(
              datediff(to_date(col("mx")), to_date(col("su"))))
            .cast("long").as("t"),
          col("pu").isNotNull.as("obs"))
      graft.ops.Survival.kaplanMeier(subj, col("t"), col("obs"))
    }
  )

  require(registry.map(_.name).distinct.size == registry.size,
    s"duplicate query names: ${
      registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
