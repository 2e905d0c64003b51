package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Per-document features are Column expressions built from
  * `org.apache.spark.sql.functions` and the engine's native
  * expressions — no UDFs — so they stay inside whole-stage codegen
  * and scale linearly with executors: a 100 TB corpus is just
  * `documents.select(...)` with no shuffle at all. Corpus operators
  * (tfidf, BM25/RM3 retrieval, vocabulary and boilerplate statistics)
  * are DataFrame plans over those expressions. The retrieval math —
  * the (doc, term, tf) table, the query terms, the BM25 weight, the
  * top-k tail and the RM3 derivation — is written once here, and
  * [[SearchIndex]] serves the same math from its persisted postings.
  *
  * Regex patterns are restricted to the syntax subset that Java regex
  * (Spark) and RE2 (DuckDB oracle) interpret identically.
  */
object TextOps {

  /** Whitespace-delimited tokens. `regexp_extract_all('\S+')` rather
    * than `split` — split's trailing-empty behavior differs across
    * engines; extract_all of non-space runs is unambiguous.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** Spread a scan over the session's slots when it has fewer
    * partitions — a small parquet file otherwise runs every
    * downstream tokenize/regex pass on ONE task (r17 profile:
    * 300-500 ms single-task corpus passes all over the text surface).
    * A corpus-sized input already has ≥ slots partitions, so the
    * round-robin exchange never fires at scale; when it does fire the
    * payload is by construction tiny. Deterministic (sort-before-
    * repartition is on by default) and row-preserving.
    */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Canonical text cleanup: Unicode NFC composition (the native
    * [[graft.functions.NfcNormalize]] expression — visually identical
    * strings with different codepoint sequences fingerprint apart and
    * slip every dedup until composed), whitespace runs collapsed to
    * single spaces, ends trimmed. DuckDB replays it as
    * `trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g'))`.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.functions.GraftFunctions.nfcNormalize(text),
      "\\s+", " "))

  def charCount(text: Column): Column = length(text)

  /** Count of punctuation characters (fixed class shared with RE2). */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0)))

  def upperCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Z]"), lit(0)))

  def digitCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[0-9]"), lit(0)))

  /** The (doc_id, term, tf) table: one tokenize+explode pass over
    * the corpus text, aggregated per (document, term). Every corpus
    * statistic here (df, dl, N, avgdl) derives from it, and
    * [[SearchIndex]] builds its postings from the same rows.
    */
  private[text] def termFreqs(docs: DataFrame, id: Column, text: Column)
      : DataFrame =
    docs.select(id.as("doc_id"), explode(tokens(lower(text))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The distinct (qid, term) rows of a query table: query text
    * tokenizes like document text, and a term repeated within one
    * query counts once (binary query tf).
    */
  private[text] def queryTerms(queries: DataFrame, qidCol: String,
      qtextCol: String): DataFrame =
    queries.select(col(qidCol).as("qid"),
        explode(tokens(lower(col(qtextCol)))).as("term"))
      .distinct()

  /** The 6-dp BM25 weight of a row carrying `tf`, `df` and `dl`:
    * `idf⁺ · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf⁺ = ln((N−df+0.5)/(df+0.5) + 1)` (the Lucene non-negative
    * form). The corpus scalars come in as columns — a broadcast
    * totals row on the live paths, literals from the index meta on
    * [[SearchIndex]]'s — so every path builds the same expression.
    */
  private[text] def bm25Weight(nDocs: Column, avgdl: Column, k1: Double,
      b: Double): Column = {
    val idf = log(
      (nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val norm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl").cast("double") / avgdl))
    round(idf * norm, 6)
  }

  /** Per-(query, doc) BM25 score: the exact DECIMAL(18,6) sum of the
    * matched (doc_id, term, w) weights over each query's terms.
    */
  private[text] def bm25Scores(w: DataFrame, qterms: DataFrame)
      : DataFrame =
    w.join(broadcast(qterms), Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("w")).cast("decimal(18,6)").as("score"))

  /** The `k` best documents per `qid` by (`scoreCol` desc, doc_id
    * asc), through the bounded-heap collect aggregate
    * ([[graft.ops.TopK]]): doc_id rides along negated so the single
    * `largest` struct ordering breaks ties toward smaller ids.
    * Output: qid, rank, `scoreCol`, neg_id, doc_id.
    */
  private[text] def topDocs(scores: DataFrame, scoreCol: String, k: Int)
      : DataFrame =
    graft.ops.TopK.topKPerGroup(
      scores.withColumn("neg_id", -col("doc_id")), Seq("qid"),
      struct(col(scoreCol), col("neg_id"), col("doc_id")),
      k, largest = true)

  /** TF-IDF per (document, term): raw term frequency × ln(N/df), no
    * smoothing. Classic corpus weighting for retrieval/quality
    * pipelines. ONE tokenize+explode pass over the corpus text: the
    * (doc,term) frequency table is unique per pair, so document
    * frequency is just `tf.groupBy(term).count` — no second explode.
    * The tf intermediate is persisted because two plan branches read
    * it (caller or session owns `clearCache`, same contract as
    * [[graft.dedup.Dedup]]); the corpus size broadcasts as a scalar.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFreqs(docs, col(idCol), col(textCol)).persist()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** The (doc_id, dl) lengths and the one-row (n_docs, avgdl) totals
    * of a corpus tf table: tokenless and null-text documents average
    * in with length 0 through the id left join.
    */
  private def corpusStats(docs: DataFrame, idCol: String, tf: DataFrame)
      : (DataFrame, DataFrame) = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val totals = docs.select(col(idCol).as("doc_id"))
      .join(dl, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        avg(coalesce(col("dl"), lit(0L))).as("avgdl"))
    (dl, totals)
  }

  /** BM25 per (document, term) ([[bm25Weight]], default k1 = 1.2,
    * b = 0.75). One tokenize pass like [[tfidf]] (dl and df derive
    * from the persisted tf table — same caller-owns-clearCache
    * contract) plus a broadcast of the two corpus scalars (N, avgdl).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = termFreqs(docs, col(idCol), col(textCol)).persist()
    val (dl, totals) = corpusStats(docs, idCol, tf)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dl, Seq("doc_id"))
      .join(df, Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("bm25", bm25Weight(col("n_docs"), col("avgdl"), k1, b))
      .select("doc_id", "term", "tf", "bm25")
  }

  /** BM25 top-k retrieval: score a (small) query table against the
    * corpus and return the `k` best documents per query — the search
    * half of [[bm25]]. Query text tokenizes like document text;
    * repeated terms within one query count once ([[queryTerms]] —
    * standard bag-of-words-with-binary-query-tf BM25).
    * `idCol` must identify documents uniquely (one row per document,
    * the engine-wide corpus contract): the document length rides the
    * posting aggregate as a group key on that assumption, so duplicate
    * ids would score per-row instead of merging into one document as a
    * doc-level pre-aggregation would.
    *
    * Scale shape: two shuffle-free corpus map passes (matched-posting
    * extraction and the N/avgdl totals) and NO full postings table —
    * the (doc, term) aggregate, df, the weight arithmetic and the
    * per-(query, doc) score aggregate all run over |matched postings|,
    * not |corpus postings| (r17: the full-postings build + doc-length
    * join was the dominant exchange of every caller).
    * The query table broadcasts (a search workload's query batch is
    * bounded); the final top-k is the bounded-heap collect aggregate
    * ([[topDocs]]) — a broad query matching 10⁸ documents costs
    * O(n log k) per map task and ships ≤ k-row states, where a window
    * row_number would shuffle and sort every scored row per query.
    * Scores are exact DECIMAL(18,6) sums of the 6-dp per-term weights,
    * so ranking (score desc, doc_id asc) is deterministic and
    * cross-engine stable — no FP sum-order dependence. The EMITTED
    * `score` is that decimal rounded to a 6-dp double: a raw DECIMAL
    * output column renders as `decimal.Decimal` under a pyarrow reader
    * vs float64 under duckdb→pandas, so it can never hash-match a
    * float oracle even when bit-exact (the round-8 driver-red class);
    * a scale-6 value of magnitude < 10⁶ is the same double in every
    * engine after the round.
    */
  def bm25Search(
      docs: DataFrame,
      idCol: String, textCol: String,
      queries: DataFrame,
      qidCol: String, qtextCol: String,
      k: Int = 5, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    val docsS = spreadScan(docs)
    val qterms = queryTerms(queries, qidCol, qtextCol)
    // Postings restricted to the query vocabulary BEFORE the
    // (doc, term) aggregate (guide §2.3 — shuffle fewer bytes): the
    // full-corpus postings table is never built, only tokens that
    // match a query term survive to the exchange. The document
    // length rides through the explode as a group key (constant per
    // doc_id, so the extra key changes no group), which also removes
    // the old corpus-wide doc-length join. df over these rows equals
    // df over the full postings for the same terms (rows stay unique
    // per (doc, term)).
    val tfq = docsS
      .select(col(idCol).as("doc_id"),
        tokens(lower(col(textCol))).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qterms.select("term").distinct()),
        Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency as a count over the term window — the join
    // back by term (which would either re-run the tfq subtree or pin
    // a cache, the old persist) becomes one exchange of the already
    // query-vocabulary-sized rows
    val withDf = tfq.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    // corpus totals from one map-side aggregate: the token count of
    // each document IS the old sum-of-tf doc length (\S+ runs are
    // unaffected by lower()), and tokenless/null-text docs average
    // in as 0 exactly like the old left-join + coalesce did
    val totals = docsS
      .select(coalesce(size(tokens(lower(col(textCol)))), lit(0))
        .cast("long").as("dl0"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl0")).as("avgdl"))
    val w = withDf
      .crossJoin(broadcast(totals))
      .withColumn("w", bm25Weight(col("n_docs"), col("avgdl"), k1, b)
        .cast("decimal(18,6)"))
    topDocs(bm25Scores(w, qterms), "score", k)
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("score").cast("double"), 6).as("score"))
  }

  /** RM3 pseudo-relevance-feedback search (Lavrenko & Croft relevance
    * models; the RM3 interpolation of Abdul-Jaleel et al., TREC'04)
    * over the live corpus: BM25 retrieve → estimate an expansion-term
    * distribution from the top `fbDocs` feedback documents → re-search
    * with the original query interpolated against the expansion
    * terms. The classic recall lever when queries underspecify
    * vocabulary. The derivation and its exactness discipline are
    * [[rm3]]'s; this entry point supplies its postings from one
    * tokenize pass over the corpus (`(doc, term, tf)`, the per-doc
    * length and the N/avgdl totals, [[bm25]]'s statistics), and that
    * same tf table is the feedback documents' vocabulary.
    *
    * Scale: both BM25 passes semi-join the corpus tf to their
    * vocabulary, so every stage after the tokenize runs on matched
    * postings or the feedback-bounded intermediates; the corpus tf is
    * cached through pass 1 and the RM1 estimate and released at the
    * expansion checkpoint, so pass 2 re-derives it from the corpus. The
    * returned frame holds one pin, the expansion-vocabulary checkpoint
    * (caller or session owns it).
    *
    * `beta` must carry a SHORT exact decimal expansion (0.5, 0.25,
    * 0.75…): its exact binary value becomes a decimal literal in the
    * interpolation, and a value like 0.3 would drag its full binary
    * expansion into the decimal plan.
    */
  def rm3Search(
      docs: DataFrame,
      idCol: String, textCol: String,
      queries: DataFrame,
      qidCol: String, qtextCol: String,
      fbDocs: Int = 10, fbTerms: Int = 10, beta: Double = 0.5,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireRm3(fbDocs, fbTerms, beta, k)
    val tf = termFreqs(docs, col(idCol), col(textCol)).persist()
    val (dl, totals) = corpusStats(docs, idCol, tf)
    def weights(terms: DataFrame): DataFrame = {
      val tfv = tf.join(broadcast(terms.select("term").distinct()),
        Seq("term"), "left_semi")
      val df = tfv.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tfv.join(dl, Seq("doc_id")).join(df, Seq("term"))
        .crossJoin(broadcast(totals))
        .withColumn("w", bm25Weight(col("n_docs"), col("avgdl"), k1, b)
          .cast("decimal(18,6)"))
        .select("doc_id", "term", "w")
    }
    rm3(queryTerms(queries, qidCol, qtextCol), weights, _ => tf,
      fbDocs, fbTerms, beta, k)
  }

  /** RM3's parameter checks, run by both entry points first. */
  private[text] def requireRm3(fbDocs: Int, fbTerms: Int, beta: Double,
      k: Int): Unit = {
    require(fbDocs > 0, s"fbDocs must be positive, got $fbDocs")
    require(fbTerms > 0, s"fbTerms must be positive, got $fbTerms")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0,1], got $beta")
    require(k > 0, s"top-k needs k > 0, got $k")
  }

  /** The RM3 derivation, written once for both postings sources (this
    * object's live [[rm3Search]] and [[SearchIndex.rm3Search]]):
    *
    *  - pass 1: BM25 over the original query terms `qt` → the top
    *    `fbDocs` feedback documents per query ([[topDocs]]);
    *  - RM1 term weights: `p(t|R) = Σ_d (tf(t,d)/dl(d)) · wd(d)` over
    *    the feedback docs, `wd` the BM25-score-normalized doc weight;
    *    top `fbTerms` terms by (weight desc, term asc);
    *  - RM3: `w(t) = β·p_orig(t) + (1−β)·p_rm(t)` with
    *    `p_orig = 1/|q|` uniform over the original terms;
    *  - pass 2: `Σ_t w(t) · bm25(t, d)` over the expanded vocabulary,
    *    top `k` by (score desc, doc_id asc).
    *
    * Each path supplies only its data: `weights` maps a frame of
    * `term`s to the (doc_id, term, w) 6-dp DECIMAL BM25 weights of
    * that vocabulary's postings, and `feedbackTf` maps the persisted
    * feedback cut (qid, doc_id, score) to a persisted (doc_id, term,
    * tf) table covering at least those documents (dl is their tf
    * sum), which this derivation releases. The caller checks the
    * parameters ([[requireRm3]]) before it builds anything.
    *
    * Engine-exactness (the bm25Search discipline extended): per-term
    * BM25 weights stay 6-dp DECIMAL; every derived scalar (normalized
    * doc weight, RM1 contribution, interpolated weight, rescore
    * contribution) is one fixed sequence of correctly-rounded IEEE
    * ops over engine-identical operands, snapped to the 9-dp lattice
    * BEFORE each exact-decimal sum — so both ranking passes and the
    * emitted scores replay in DuckDB to hash equality.
    *
    * Pins: the feedback cut, the feedback tf and `qt` (which the
    * index path persists for its bucket probe) are cached while pass 1
    * and RM1 run; the expansion vocabulary (≤ |q| + fbTerms rows per
    * query) is then pinned by an eager `localCheckpoint`, which
    * materializes every plan that reads them, and all three are
    * released before pass 2 is built. The returned frame holds
    * exactly one pin, that checkpoint, read by pass 2.
    */
  private[text] def rm3(
      qt: DataFrame,
      weights: DataFrame => DataFrame,
      feedbackTf: DataFrame => DataFrame,
      fbDocs: Int, fbTerms: Int, beta: Double, k: Int): DataFrame = {
    // pass 1: original-query BM25 → feedback docs (exact DECIMAL)
    val fb = topDocs(bm25Scores(weights(qt.select("term")), qt),
        "score", fbDocs)
      .select(col("qid"), col("doc_id"), col("score"))
      .persist()
    val ssum = fb.groupBy(col("qid"))
      .agg(sum(col("score")).cast("decimal(18,6)").as("ssum"))
    val wdoc = fb.join(ssum, Seq("qid"))
      .withColumn("wd", round(
        col("score").cast("double") / col("ssum").cast("double"), 9))
      .select("qid", "doc_id", "wd")
    // RM1 over the feedback docs' own vocabulary
    val ftf = feedbackTf(fb)
    val fdl = ftf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val prm = wdoc.join(ftf, Seq("doc_id")).join(fdl, Seq("doc_id"))
      .withColumn("c",
        round((col("tf") / col("dl")) * col("wd"), 9)
          .cast("decimal(18,9)"))
      .groupBy(col("qid"), col("term"))
      .agg(sum(col("c")).cast("decimal(18,9)").as("p_rm"))
    // top expansion terms: the vocabulary of ≤ fbDocs docs per query
    // is bounded, so a per-query window rank is cheap here (terms are
    // strings — the bounded-heap's negation tie-break is numeric-only)
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("p_rm").desc, col("term").asc)
    val expTerms = prm.withColumn("rn", row_number().over(wTerm))
      .filter(col("rn") <= fbTerms)
      .select(col("qid"), col("term"), col("p_rm"))
    // RM3 interpolation
    val nq = qt.groupBy(col("qid")).agg(count(lit(1)).as("nq"))
    val orig = qt.join(nq, Seq("qid"))
      .withColumn("p_orig",
        round(lit(1.0) / col("nq").cast("double"), 9))
      .select("qid", "term", "p_orig")
    // the interpolation and the rescore product run in EXACT DECIMAL:
    // β·(9-dp lattice) lands on 10-dp midpoints every second value,
    // exactly where a double round's half-case behavior diverges
    // between engines — decimal arithmetic has no half-case ambiguity
    // (both engines round exact decimals half-away-from-zero)
    val bDec = lit(new java.math.BigDecimal(beta))
    val mDec = lit(new java.math.BigDecimal(1.0 - beta))
    val zero9 = lit(0).cast("decimal(18,9)")
    val wq = orig.join(expTerms, Seq("qid", "term"), "full_outer")
      .select(col("qid"), col("term"),
        round(
          bDec * coalesce(col("p_orig").cast("decimal(18,9)"), zero9) +
            mDec * coalesce(col("p_rm"), zero9),
          9).cast("decimal(18,9)").as("wt"))
      // pinned once so the pass-2 plan (and any driver-side work its
      // `weights` does on the vocabulary) never re-runs pass 1 + RM1
      .localCheckpoint()
    qt.unpersist()
    fb.unpersist()
    ftf.unpersist()
    // pass 2: rescore over the expanded vocabulary
    val s2 = weights(wq.select("term")).join(broadcast(wq), Seq("term"))
      .withColumn("c",
        round(col("wt") * col("w"), 9).cast("decimal(18,9)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).cast("decimal(18,9)").as("score2"))
    topDocs(s2, "score2", k)
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("score2").cast("double"), 9).as("score"))
  }

  /** BPE-style token-count estimate: the GPT-2 pre-tokenizer pattern
    * (letter runs / digit runs / punctuation runs, each with an
    * optional leading space) restricted to the Java-regex ∩ RE2 common
    * subset — no lookahead, no unicode classes. Counts pre-tokens, the
    * standard cheap proxy for subword token counts at corpus scale.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(
      text, lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"), lit(0)))

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` token vocabulary — the standard tokenizer-
    * coverage / domain-shift diagnostic for training corpora (a
    * rising OOV rate against a reference vocab means the tokenizer
    * or the filter cascade no longer fits the incoming data).
    *
    * Scale shape: ONE tokenize+explode pass. The vocabulary is a
    * bounded top-k by (count desc, token asc) — deterministic
    * tie-break, TakeOrderedAndProject, never a global sort — and
    * attaches to the token stream by BROADCAST left join; the per-doc
    * aggregation's partial combine runs map-side (explode preserves
    * row locality, so one doc's tokens never cross partitions before
    * the partial), meaning the only exchanges carry vocab-sized and
    * doc-level partials — token rows themselves never shuffle.
    * Documents with no tokens keep a (0, 0) row via the left join
    * from the base table.
    *
    * @return (id, n_tokens, n_oov, oov_bp) — rate in basis points,
    *         floor division, 0 for empty documents
    */
  def oovRate(
      docs: DataFrame,
      idCol: Column, textCol: Column,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val tok = docs.select(idCol.as("id"),
      explode(tokens(textCol)).as("token"))
    val vocab = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token").as("vtok"), lit(1).as("inv"))
    val perDoc = tok
      .join(broadcast(vocab), col("token") === col("vtok"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
    docs.select(idCol.as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_bp",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("n_oov * 10000 div n_tokens")))
  }

  /** Pairwise vocabulary Jaccard between corpus slices (sources,
    * snapshots, domains) — the cheap corpus-similarity diagnostic
    * that flags a source whose language no longer resembles the rest
    * of the mix, and a precursor check before merging crawls.
    *
    * Scale shape: ONE tokenize+explode pass collapsed to the distinct
    * (slice, token) vocabulary (localCheckpoint-ed — the self-join
    * reads it twice and the size table once; the triangleCounts
    * lesson). The self-join key is the token, and because rows are
    * DISTINCT per slice, per-token fan-out is bounded by #slices² —
    * corpus growth adds vocabulary rows, never join blow-up. All
    * #slices² pairs appear in the output (zero-overlap pairs
    * included, via the bounded margins grid). Jaccard in integer
    * basis points — no float anywhere.
    *
    * @return (s1, s2, inter, union_nv, jaccard_bp) for s1 < s2
    */
  def sourceVocabOverlap(
      docs: DataFrame,
      sliceCol: Column, textCol: Column)
      : DataFrame = {
    val st = docs
      .select(sliceCol.as("src"), explode(tokens(textCol)).as("token"))
      .distinct()
      .localCheckpoint()
    val sizes = st.groupBy(col("src")).agg(count(lit(1)).as("nv"))
    val inter = st.as("a")
      .join(st.as("b"), col("a.token") === col("b.token") &&
        col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("s1"), col("b.src").as("s2"))
      .agg(count(lit(1)).as("inter"))
    broadcast(sizes.select(col("src").as("s1"), col("nv").as("n1")))
      .crossJoin(broadcast(
        sizes.select(col("src").as("s2"), col("nv").as("n2"))))
      .filter(col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("union_nv", col("n1") + col("n2") - col("inter"))
      .select(col("s1"), col("s2"), col("inter"), col("union_nv"),
        expr("inter * 10000 div union_nv").as("jaccard_bp"))
  }

  /** Count of hits from a word list (quality scoring / language ID). */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(
      lower(text), lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  // Minimal distinctive stopword lists per language for the n-gram/
  // stopword language-ID heuristic. Deliberately small: the heuristic
  // is the operator; lists are a tunable.
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "es", "un", "una"))

  /** Stopword-hit language ID. Deterministic tie-break: languages are
    * tested in fixed order, `>=` comparisons, so equal scores resolve
    * to the earlier language; all-zero scores → "unknown".
    */
  def langId(text: Column): Column = {
    val langs = Seq("en", "de", "fr", "es")
    val hits = langs.map(l => l -> wordHits(text, stopwords(l))).toMap
    val best = langs.foldRight(lit("unknown")) { (l, els) =>
      val isMax = langs.filter(_ != l)
        .map(o => hits(l) >= hits(o))
        .reduce(_ && _) && hits(l) > 0
      when(isMax, lit(l)).otherwise(els)
    }
    best
  }

  /** Heuristic quality gate: integer-count thresholds only (exact on
    * both engines; no float ratios in the verdict path).
    */
  def qualityOk(text: Column,
      minTokens: Int = 10, maxPunctPerToken: Double = 0.5): Column =
    tokenCount(text) >= minTokens &&
      punctCount(text) * 2 <= tokenCount(text) // integer arithmetic form

  /** Token-window document chunking: split each document into
    * `chunkSize`-token windows advancing by `chunkSize - overlap`
    * tokens — the standard context-window prep for training corpora.
    * A trailing window is emitted only if it contributes tokens beyond
    * the previous window's coverage (`start + overlap < n`); an empty
    * document yields one empty chunk (chunk 0 always exists).
    *
    * Scale: the token array is materialized ONCE per document in the
    * projection under the explode (the per-chunk `slice` references
    * the attribute, it does not re-tokenize), so the pass is
    * shuffle-free and linear — output volume ≈ corpus × (1 +
    * overlap/stride).
    */
  def chunkTokens(
      docs: DataFrame,
      idCol: String, textCol: String,
      chunkSize: Int = 40, overlap: Int = 10): DataFrame = {
    require(overlap >= 0 && chunkSize > overlap,
      s"need chunkSize > overlap >= 0, got size=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    val starts = filter(
      sequence(lit(0), greatest(n - 1, lit(0)), lit(stride)),
      s => s === 0 || (s + lit(overlap) < n))
    docs
      .select(col(idCol), toks.as("_toks"), n.as("_n"),
        explode(starts).as("_start"))
      .select(col(idCol),
        (col("_start") / stride).cast("long").as("chunk_idx"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize), col("_n") - col("_start")).cast("long")
          .as("n_chunk_tokens"))
  }

  // PII-scrub patterns, restricted to the Java-regex ∩ RE2 subset
  // (no lookaround, no backreferences) so the DuckDB oracle evaluates
  // them identically. Deliberately high-recall shapes — a training-
  // data scrub prefers over-redaction to leakage.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: replace emails, phone-shaped numbers, and IPv4
    * addresses with typed placeholder tags. A pure chained
    * `regexp_replace` expression — codegen'd, shuffle-free,
    * linear over a 100 TB corpus; order matters (emails first, so an
    * address's digits are gone before the phone pass; IP last so
    * phone fragments don't half-match it).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): the
    * fraction of tokens belonging to duplicate occurrences — tokens
    * beyond the first occurrence of each distinct token — and the
    * fraction claimed by the single most frequent token. High values
    * flag degenerate/boilerplate documents that poison training data.
    *
    * One tokenize+explode pass, one (doc,term) aggregation, one
    * per-doc rollup — grouped shuffles only, no window over the
    * corpus, no driver involvement; ratios round(6) for
    * engine-identical hashing.
    */
  def repetitionSignals(docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    termFreqs(docs, col(idCol), col(textCol))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        round((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens"), 6).as("dup_token_frac"),
        round(col("top_tf").cast("double") / col("n_tokens"), 6)
          .as("top_token_frac"))

  /** Character-distribution Shannon entropy (natural log), via the
    * shuffle-free native [[graft.functions.CharEntropy]] expression —
    * the degenerate-text quality signal: key-mash and repeated-char
    * padding score far below natural language. Deterministic: the
    * histogram folds in codepoint order.
    */
  def charEntropy(text: Column): Column =
    graft.functions.GraftFunctions.charEntropy(text)

  /** Content fingerprint: md5 of the UTF-8 bytes. For a 100 TB corpus
    * this is the exact-dedup key — group/bucket by `fingerprint` and
    * keep `min(doc_id)`.
    */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Winnowing fingerprint SET (rolling k-gram hash → sliding-window
    * minima, SIGMOD'03) via the native [[graft.functions.Winnow]]
    * expression: any shared byte run of length ≥ w+k−1 between two
    * documents yields a shared fingerprint — the selection sketch for
    * partial-overlap / plagiarism-style near-dup detection, where the
    * whole-document [[fingerprint]] only catches exact copies.
    */
  def winnowFingerprints(text: Column, k: Int = 25, w: Int = 50): Column =
    graft.functions.GraftFunctions.winnow(text, k, w)

  /** Corpus card — the "datasheet for a dataset" one-call summary
    * (Gebru et al. 2021 motivation, counting form): corpus size,
    * source fan-out, token/char volume, exact-duplicate mass, empty
    * docs, and the language mix, as long-format `(metric, value)`
    * rows. Every metric is an EXACT integer (counts and integer
    * sums — no FP means), so the card is deterministic on any
    * layout/engine and diffable between snapshots (card(v17) vs
    * card(v18) is a two-frame join).
    *
    * ONE aggregation pass: the distinct-counts (sources,
    * fingerprints) expand through Spark's single Expand+aggregate
    * plan; everything else rides the same scan. Output is one bounded
    * row per metric.
    */
  def corpusCard(
      docs: DataFrame,
      sourceCol: String,
      textCol: String): DataFrame = {
    val prepared = docs.select(
      col(sourceCol).as("__src"),
      length(col(textCol)).cast("long").as("__chars"),
      size(tokens(col(textCol))).cast("long").as("__ntok"),
      fingerprint(col(textCol)).as("__fp"),
      langId(col(textCol)).as("__lang"))
    val row = prepared.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("__src")).as("n_sources"),
      coalesce(sum(col("__ntok")), lit(0L)).as("total_tokens"),
      coalesce(sum(col("__chars")), lit(0L)).as("total_chars"),
      countDistinct(col("__fp")).as("n_distinct_texts"),
      count(when(col("__ntok") === 0, lit(1))).as("n_empty_docs"),
      count(when(col("__lang") === "en", lit(1))).as("n_docs_en"),
      count(when(col("__lang") === "de", lit(1))).as("n_docs_de"),
      count(when(col("__lang") === "fr", lit(1))).as("n_docs_fr"),
      count(when(col("__lang") === "es", lit(1))).as("n_docs_es"),
      count(when(col("__lang") === "unknown", lit(1)))
        .as("n_docs_unknown"))
    val metrics = Seq("n_docs", "n_sources", "total_tokens",
      "total_chars", "n_distinct_texts", "n_empty_docs", "n_docs_en",
      "n_docs_de", "n_docs_fr", "n_docs_es", "n_docs_unknown")
    row.select(explode(map(
        metrics.flatMap(m => Seq(lit(m), col(m))): _*))
      .as(Seq("metric", "value")))
  }

  /** Sub-document boilerplate removal (the CCNet line-dedup shape,
    * Wenzek et al. 2020): split every document into aligned
    * `segLen`-token segments, count how many DISTINCT documents each
    * exact segment occurs in across the corpus, delete segments
    * occurring in ≥ `minDocs` documents, and reassemble the survivors
    * in order. Catches shared headers/footers/navigation chrome that
    * document-level dedup can't see. (CCNet segments on newlines;
    * this corpus is single-line, so fixed token windows are the
    * segment unit — the aggregation algebra is identical.)
    *
    * Output: one row per input document — (idCol, clean_text,
    * n_kept_segments); a fully-boilerplate document survives with
    * empty text, so row count is stable for downstream audits.
    *
    * Scale: the frequency pass shuffles only (seg_hash, doc_id) —
    * column pruning drops the text before that exchange — and the
    * anti-join plus reassembly are keyed on the 8-byte hash and the
    * doc id respectively (same collision tolerance as every hash
    * join). The boilerplate key set is NOT assumed broadcastable: at
    * corpus scale "every segment shared by ≥2 of 10¹⁰ documents" can
    * be huge, so it stays a distributed anti-join (Catalyst
    * broadcasts it when it is in fact small). Worst-case segment text
    * therefore crosses the wire twice (hash-keyed anti-join, then
    * doc-keyed reassembly); on the common broadcast path, once.
    */
  def stripBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segLen: Int = 10,
      minDocs: Int = 2): DataFrame = {
    require(segLen > 0 && minDocs > 1,
      s"need segLen > 0 and minDocs > 1, got $segLen/$minDocs")
    val segs = chunkTokens(docs, idCol, textCol,
        chunkSize = segLen, overlap = 0)
      // chunkTokens emits chunk 0 even for a zero-token document; a
      // non-empty segment always carries ≥1 token, so dropping the
      // empty chunk_text exactly removes that phantom segment —
      // zero-token docs then surface as ("", 0) rows via the final
      // left join, matching the oracle's zero-segment comprehension
      .filter(col("chunk_text") =!= lit(""))
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("seg_hash"))
      // two plan branches read the segments (the frequency pass and
      // the anti-join probe side) — without the persist the chunk
      // explode over the corpus text runs twice (caller/session owns
      // clearCache, the tfidf/bm25 contract)
      .persist()
    val boiler = segs
      .groupBy(col("seg_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("seg_hash"))
    val kept = segs.join(boiler, Seq("seg_hash"), "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
          .as("a"),
        count(lit(1)).as("n_kept"))
      .select(col(idCol),
        array_join(transform(col("a"), s => s("chunk_text")), " ")
          .as("clean_text"),
        col("n_kept"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept_segments"))
  }
}
