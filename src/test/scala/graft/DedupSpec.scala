package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir)

  test("shingles: distinct word 3-grams; short docs fall back to whole text") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L).toSet == Set("a b c", "b c d"))
    assert(got(2L) == Seq("x y"))
  }

  test("exactDedup groups identical texts under one fingerprint") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("minhashLsh recovers exactly the ≥0.8-Jaccard ground-truth pairs") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val found = Dedup.minhashLsh(docs, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    val recall = (truth & found).size.toDouble / truth.size
    val precision = if (found.isEmpty) 0d
      else (truth & found).size.toDouble / found.size
    assert(recall >= 0.9, s"minhash recall $recall < 0.9 (found ${found.size})")
    assert(precision >= 0.8, s"minhash precision $precision < 0.8")
  }

  test("ShingleHashes equals xxhash64 over the string shingles, doc by doc") {
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two"),        // shorter than n → whole-text shingle
      (3L, ""),               // empty → hash of empty string
      (4L, "  spaced\t\nout   tokens  here ")) // messy whitespace
      .toDF("doc_id", "text")
    val viaStrings = fixture.select(col("doc_id"),
      sort_array(transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)))
        .as("h")).as[(Long, Seq[Long])].collect().toMap
    val native = fixture.select(col("doc_id"),
      Dedup.shingleHashes(col("text"), 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == viaStrings)
    // and on real corpus data
    val a = docs.limit(50).select(col("doc_id"),
      sort_array(transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)))
        .as("h")).as[(Long, Seq[Long])].collect().toMap
    val b = docs.limit(50).select(col("doc_id"),
      Dedup.shingleHashes(col("text"), 3).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(a == b)
  }

  test("ShingleStrings is set-equal to the HOF shingles, doc by doc") {
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two"),        // shorter than n → whole-text shingle
      (3L, ""),               // empty → [""]
      (4L, "  spaced\t\nout   tokens  here "), // messy whitespace
      (5L, "héllo wörld déjà vu naïve café")) // multi-byte UTF-8
      .toDF("doc_id", "text")
    def sets(c: org.apache.spark.sql.Column) = fixture
      .select(col("doc_id"), c.as("sh"))
      .as[(Long, Seq[String])].collect().map { case (k, v) => k -> v.toSet }
      .toMap
    assert(sets(graft.functions.GraftFunctions.shingleStrings(col("text"), 3))
      == sets(Dedup.shingles(col("text"), 3)))
    // and on real corpus data
    val a = docs.limit(50)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingleStrings(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map { case (k, v) => k -> v.toSet }.toMap
    val b = docs.limit(50)
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map { case (k, v) => k -> v.toSet }.toMap
    assert(a == b)
  }

  test("MinHashSignature native expr matches the universal-hash math") {
    val hashes = Seq(12345L, -987654321L, 42L)
    val df = Seq(Tuple1(hashes)).toDF("hs")
    val got = df.select(
      graft.functions.GraftFunctions.minhashSignature(col("hs"), 8).as("sig"))
      .as[Seq[Long]].head()
    val (pa, pb) = graft.functions.MinHashSignature.params(8)
    val p = graft.functions.MinHashSignature.P
    val want = (0 until 8).map { j =>
      hashes.map { h => val x = h & 0xFFFFFFFFL; (pa(j) * x + pb(j)) % p }.min
    }
    assert(got == want)
  }

  test("containment catches subset-inclusion that Jaccard misses") {
    // A's 4 shingles all appear in B (A pasted inside a larger doc):
    // containment = 4/min(4,13) = 1.0, Jaccard = 4/13 ≈ 0.31
    val a = "a b c d e f"
    val b = a + " g h i j k l m n o"
    val pair = Seq((1L, a), (2L, b), (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(pair, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(cont == Set((1L, 2L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(pair, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(jac.isEmpty, "Jaccard at 0.8 should miss the inclusion pair")
    // symmetric near-identical docs pass both (containment ≥ jaccard
    // always: same numerator, smaller-or-equal denominator)
    val twins = Seq((1L, a + " g"), (2L, a + " h")).toDF("doc_id", "text")
    assert(Dedup.ngramContainmentPairs(twins, "doc_id", "text", 3, 0.6)
      .count() == 1)
  }

  test("prefix-filtered containment equals the naive all-pairs result exactly") {
    val naive = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup
      .ngramContainmentPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty)
    assert(prefix == naive)
    // lower threshold (longer prefixes, more size-tie pairs) — and a
    // hand case where the smaller doc is fully contained
    val naive5 = Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prefix5 = Dedup
      .ngramContainmentPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix5 == naive5)
    val incl = Seq((1L, "a b c d e f"),
      (2L, "a b c d e f g h i j k l m n o")).toDF("doc_id", "text")
    assert(Dedup.ngramContainmentPairsPrefix(incl, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet == Set((1L, 2L, 1.0)))
  }

  test("containmentPipeline: collapse-first equals all-pairs containment " +
      "on the dedupCorpus survivor set") {
    // the exact-first equivalence the operator's doc argues: survivors
    // of (exact collapse -> LSH collapse) == dedupCorpus on the raw
    // corpus, so the pipeline's residual pairs == direct all-pairs
    // containment restricted to those survivors
    val survivors = Dedup.dedupCorpus(docs, "doc_id", "text")
    val expected = Dedup
      .ngramContainmentPairs(survivors, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.containmentPipeline(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
    // hand case covering every stage: {2,5} exact dups (keep 2),
    // {8,9} near-dups at Jaccard 6/8 = 0.75... use 0.8-qualifying
    // twins; 1 pasted inside 10 (the residual the pipeline is FOR)
    val small = "a b c d e f"
    val nd = "p q r s t u v w x y"
    val hand = Seq(
      (1L, small),
      (2L, "dup dup dup dup one two three"),
      (5L, "dup dup dup dup one two three"),
      (8L, nd + " z"),
      (9L, nd + " zz"),
      (10L, small + " g h i j k l m n o")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPipeline(hand, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 10L, 1.0)),
      s"expected only the residual inclusion pair, got $pairs")
  }

  test("containment operators release their shingle cache (no leak)") {
    // the BasketSpec ca83a16 discipline applied to the round-12
    // containment pair operators: both persist a shingle frame
    // internally and must checkpoint-and-release before returning —
    // after the call the CacheManager is back to empty
    // (localCheckpoint blocks are not CacheManager entries)
    spark.catalog.clearCache()
    Dedup.ngramContainmentPairs(docs, "doc_id", "text", 3, 0.8).collect()
    assert(org.apache.spark.sql.GraftSqlShims.cacheIsEmpty(spark),
      "ngramContainmentPairs left frames pinned in the CacheManager")
    Dedup.ngramContainmentPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .collect()
    assert(org.apache.spark.sql.GraftSqlShims.cacheIsEmpty(spark),
      "ngramContainmentPairsPrefix left frames pinned in the " +
        "CacheManager")
  }

  test("minhashLshVerified equals the exact all-pairs ground truth") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val got = Dedup.minhashLshVerified(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    assert(got == truth)
  }

  test("prefix-filtered Jaccard equals the naive all-pairs result exactly") {
    val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty)
    assert(prefix == naive)
    // and at a lower threshold, where prefixes are longer
    val naive5 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prefix5 = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(prefix5 == naive5)
  }

  test("winnowOverlapPairs finds docs embedding a common passage") {
    val passage = "this exact quoted passage appears verbatim inside two " +
      "otherwise unrelated documents and is long enough to winnow"
    val df = Seq(
      (1L, s"first document preamble text. $passage then a unique ending one"),
      (2L, s"a wholly different opening here. $passage and another close two"),
      (3L, "no shared passage in this one at all, fully distinct content"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlapPairs(df, "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)), "docs sharing the passage must pair")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L),
      "the distinct doc must not pair with anything")
  }

  test("dedupCorpus keeps one canonical doc per clone family") {
    val family = "a fully duplicated document body long enough to shingle " +
      "with plenty of overlapping trigrams in every copy of it"
    val df = Seq(
      (1L, family), (5L, family), (9L, family), // clone family → keep 1
      (2L, "an unrelated document about completely different things entirely"),
      (3L, "yet another distinct text with no overlap whatsoever here"))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("contaminationReport fractions: full copy 1.0, clean 0.0, partial in between") {
    val leaked = "the exact benchmark question text appears verbatim here today"
    val bench = Seq((100L, leaked)).toDF("doc_id", "text")
    val train = Seq(
      (1L, leaked),                                     // full copy
      (2L, s"some original prefix then $leaked"),       // partial
      (3L, "entirely unrelated content with zero overlap whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, bench, "doc_id", "text", 4)
      .select("doc_id", "contaminated_frac")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 1.0)
    assert(got(2L) > 0.0 && got(2L) < 1.0, s"got ${got(2L)}")
    assert(got(3L) == 0.0)
    // the PaLM-style consumption: one filter away from a clean set
    val clean = Dedup.contaminationReport(train, bench, "doc_id", "text", 4)
      .filter(col("contaminated_frac") <= 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(3L))
    assert(got(2L) > 0.5) // the partial doc is mostly the leaked span
  }

  test("dedupCorpus keepBy keeps the best cluster member, min id on ties") {
    val family = "a fully duplicated document body long enough to shingle " +
      "with plenty of overlapping trigrams in every copy of it"
    val other = "a second clone family with its own shared trigram " +
      "content repeated across each of its member documents verbatim"
    val df = Seq(
      // family 1: doc 5 is the best copy — must beat min-id doc 1
      (1L, family, 10), (5L, family, 99), (9L, family, 50),
      // family 2: quality tie between 6 and 8 → smallest id (6) wins;
      // doc 7's NULL quality loses to any value
      (6L, other, 40), (8L, other, 40), (7L, other, Integer.MIN_VALUE),
      (2L, "an unrelated document about completely different things", 1))
      .toDF("doc_id", "text", "q")
      .withColumn("q",
        when(col("q") === Integer.MIN_VALUE, lit(null)).otherwise(col("q")))
    val kept = Dedup.dedupCorpus(df, "doc_id", "text",
        keepBy = Some(col("q")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(5L, 6L, 2L), s"got $kept")
    // default stays min-id (back-compat with the oracle)
    val minId = Dedup.dedupCorpus(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 6L, 2L))
  }

  test("maxBucket skew guard drops degenerate buckets, keeps normal ones") {
    // 6 identical docs → every band bucket has 6 members
    val clones = (1L to 6L).map(i => (i, "the same boilerplate text repeated " +
      "across many documents to form one degenerate lsh bucket"))
    val df = clones.toDF("doc_id", "text")
    val guarded = Dedup.minhashLsh(df, "doc_id", "text", maxBucket = 5)
      .collect()
    assert(guarded.isEmpty, "oversized buckets must be skipped entirely")
    val unguarded = Dedup.minhashLsh(df, "doc_id", "text", maxBucket = 10000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unguarded.size == 15, "all C(6,2) clone pairs emerge when the cap allows")
  }

  test("LSH candidate volume stays sub-quadratic on the real corpus") {
    // the scale contract of banding: candidate pairs ~ O(dups + noise),
    // NOT O(n²)/2 — a silent regression here (wider bands, a broken
    // bucket guard) is what turns the 100 TB run quadratic long before
    // wall-time shows it at test scale
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val signed = docs.select(col("doc_id"),
      Dedup.minhashSignature(
        Dedup.shingleHashes(col("text"), 3), 128).as("sig"))
    val candidates = Dedup.minhashCandidates(
      signed, bands = 16, r = 8, maxBucket = 1000).count()
    assert(candidates < allPairs / 20,
      s"LSH produced $candidates candidates for $n docs " +
        s"($allPairs all-pairs) — the banding is no longer selective")
    // and the guard bounds the degenerate case: clones of ONE text
    // would meet in every band; past maxBucket they must not explode
    val clones = (1L to 300L)
      .map(i => (i, "identical boilerplate forming one degenerate bucket"))
      .toDF("doc_id", "text")
    val cloneSigned = clones.select(col("doc_id"),
      Dedup.minhashSignature(
        Dedup.shingleHashes(col("text"), 3), 128).as("sig"))
    val guarded = Dedup.minhashCandidates(
      cloneSigned, bands = 16, r = 8, maxBucket = 50).count()
    assert(guarded == 0,
      s"degenerate 300-clone bucket leaked $guarded candidates past the guard")
  }

  test("nearDupClusters: multi-hop chains collapse to the min id") {
    // components: {1,2,3,4} as a chain (needs >1 propagation round),
    // {10,11}, and 20–21–22 as a triangle-ish fan
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    val got = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    // the distributed loop (forced via driverMaxPairs=0) must produce
    // the exact same labeling as the bounded union-find fast path
    val distributed = Dedup.nearDupClusters(pairs, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed == want, "driver and distributed paths must agree")
  }

  test("simhashPairs catches most ground-truth near-dups") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val found = Dedup.simhashPairs(docs, "doc_id", "text", 7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.7, s"simhash recall $recall < 0.7 (found ${found.size})")
  }

  test("SimHash64 expression: known bit pattern") {
    // two hashes voting: bit set where majority of inputs have it
    val df = Seq((Seq(0x3L, 0x1L, 0x1L))).toDF("hs")
    val got = df.select(
      graft.functions.GraftFunctions.simhash64(col("hs")).as("sh"))
      .as[Long].head()
    // bit0: 3 votes for → set; bit1: 1 for, 2 against → clear
    assert(got == 1L)
  }

  test("SimHash64 registered as SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql("SELECT simhash64(array(3L, 1L, 1L)) AS sh")
      .as[Long].head()
    assert(got == 1L)
  }

  test("embeddingNearDupLsh: planted same-direction dups found; output ⊆ exact") {
    val emb = Tables.embeddings(spark, sfDir)
    // plant 20 scaled copies: scaling preserves direction ⇒ cosine 1,
    // identical hyperplane signature ⇒ recall on these is deterministic
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val got = Dedup.embeddingNearDupLsh(corpus, "vec_id", "embedding", 64, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach { i =>
      assert(got.contains((i, i + 10000)), s"planted dup pair ($i, ${i + 10000}) missed")
    }
    val exact = Dedup.embeddingNearDup(corpus, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact), "LSH output must be a subset of the exact pairs")
  }

  test("identical texts have identical simhash and hamming 0") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", 0)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("decontaminate flags exactly the docs sharing an n-gram with bench") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"), // shares "alpha beta gamma delta"
      (2L, "alpha beta gamma zeta eta"),      // 4-grams all differ from bench
      (3L, "one two three four five"))        // disjoint vocabulary
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L))
  }

  test("decontaminate counts distinct leaked shingles per doc") {
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text") // 4-grams: abcd, bcde, cdef
    val bench = Seq((9L, "a b c d e"), (10L, "c d e f"))        // covers abcd, bcde, cdef
      .toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L))
  }

  test("dedupAgainstCorpus: best corpus match, ties toward smallest id") {
    val corpus = Seq(
      (1L, "w x y z q r s t"),
      (3L, "w x y z q r s t"),   // same text as 1 → tie at jaccard 1.0
      (4L, "completely different tokens here now"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "w x y z q r s t"),    // exact dup of corpus 1 and 3
      (20L, "unrelated brand new content words"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (b, c, j) => b -> ((c, j)) }.toMap
    assert(got == Map(10L -> ((1L, 1.0))))
  }

  test("dedupAgainstCorpus on the corpus split matches within-corpus pairs") {
    // every (batch, corpus) pair found by the cross form must appear in
    // the all-pairs ground truth, and vice versa for pairs straddling
    // the % 5 split
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val cross = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text")
      .select("batch_doc").as[Long].collect().toSet
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        Seq(a, b).filter(x => x % 5 == 0 &&
          Seq(a, b).exists(y => y % 5 != 0))
      }.toSet
    assert(cross == truth,
      s"cross-corpus flagged $cross but ground truth straddling pairs $truth")
  }

  test("decontaminate composes with a streaming source (stream-static join)") {
    // the decontamination filter is a stateless broadcast semi-join +
    // per-row shingling, so it runs unchanged over a stream of
    // arriving documents — the shape of scrubbing a live crawl against
    // a static benchmark index. groupBy(id) works in update mode; here
    // we pin the per-batch flagging by running the same operator in
    // foreachBatch, the ingest pattern the platform uses
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val flagged = scala.collection.mutable.Set[(Long, Long)]()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        flagged ++= Dedup.decontaminate(batch, bench, "doc_id", "text", 4)
          .as[(Long, Long)](org.apache.spark.sql.Encoders.product[(Long, Long)])
          .collect()
        ()
      }.start()
    try {
      ms.addData((1L, "alpha beta gamma delta epsilon"), (2L, "clean doc here now"))
      q.processAllAvailable()
      ms.addData((3L, "more alpha beta gamma delta text"))
      q.processAllAvailable()
      assert(flagged.toSet == Set((1L, 1L), (3L, 1L)))
    } finally q.stop()
  }

  test("decontaminateEmbeddings flags direction matches, picks best bench") {
    // train 1 = scaled copy of bench 100 (cos 1.0); train 2 orthogonal
    val train = Seq(
      (1L, Seq(2.0, 0.0, 0.0)),
      (2L, Seq(0.0, 0.0, 3.0)))
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (101L, Seq(1.0, 0.0, 0.0)), // identical bench twin: tie → min id
      (102L, Seq(0.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.decontaminateEmbeddings(
      train, bench, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect()
      .map { case (v, b, c) => v -> ((b, c)) }.toMap
    assert(got == Map(1L -> ((100L, 1.0))))
  }

  test("decontaminateEmbeddings: zero-norm vectors can neither flag nor win") {
    // an unguarded zero vector yields cos = 0/0 = NaN, which sorts
    // ABOVE every double — it would pass the threshold and win every
    // argmax, flagging the whole corpus against one degenerate row
    val train = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 0.0)))          // degenerate train row: never flagged
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Seq(0.0, 0.0)),        // degenerate bench row: never matches
      (101L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Dedup.decontaminateEmbeddings(
      train, bench, "vec_id", "embedding", 0.5)
      .as[(Long, Long, Double)].collect()
      .map { case (v, b, c) => v -> ((b, c)) }.toMap
    assert(got == Map(1L -> ((101L, 1.0))))
  }

  test("dedupAgainstCorpusLsh output equals the exact cross-corpus form") {
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val exact = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.dedupAgainstCorpusLsh(batch, corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "split should straddle planted near-dups")
    assert(lsh == exact,
      s"banded form diverged: missing ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("substringDedup cuts a planted cross-doc span from all but the first") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, s"unique one text $span tail one"),
      (2L, s"two starts here $span and continues uniquely"),
      (3L, "completely unrelated text with no duplicate content at all"))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // the globally-first occurrence (doc 1) keeps its copy untouched
    assert(got(1L) == (s"unique one text $span tail one", 0))
    // doc 2 loses exactly the 10 span tokens, context survives in order
    assert(got(2L) == ("two starts here and continues uniquely", 10))
    // an unrelated doc passes through (whitespace-canonical)
    assert(got(3L) ==
      ("completely unrelated text with no duplicate content at all", 0))
  }

  test("substringDedup matches a sequential reference on collision-heavy corpora") {
    // randomized model test (the ReplayModelSpec pattern): tiny vocab
    // so k-token windows recur constantly — cross-doc, within-doc,
    // overlapping, nested, periodic — and every removal decision is
    // checked against a direct sequential execution of the Lee et al.
    // semantics: the globally-first (doc, pos) occurrence of each
    // window text keeps its tokens; every other occurrence's k tokens
    // are covered and cut, EXCEPT occurrences overlapping the kept
    // window in the same doc (the self-overlap rule — without it a
    // periodic run cuts its own kept copy); kept tokens reassemble
    // in order
    val k = 3
    val ord = Ordering.Tuple2[Long, Int]
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d")
      val corpus = (1L to 15L).map { id =>
        id -> Vector.fill(5 + rnd.nextInt(26))(vocab(rnd.nextInt(vocab.size)))
      }
      val owner = scala.collection.mutable.Map[Seq[String], (Long, Int)]()
      for ((id, toks) <- corpus; p <- 0 to toks.size - k) {
        val w = toks.slice(p, p + k)
        if (owner.get(w).forall(cur => ord.lt((id, p), cur)))
          owner(w) = (id, p)
      }
      val expected = corpus.map { case (id, toks) =>
        val covered = Array.fill(toks.size)(false)
        for (p <- 0 to toks.size - k) {
          val (ownId, ownPos) = owner(toks.slice(p, p + k))
          // spared when it IS the owner or overlaps the owner's kept
          // window in the same doc (owner ⇒ overlap, one predicate)
          if (!(ownId == id && p < ownPos + k))
            (p until p + k).foreach(covered(_) = true)
        }
        val kept = toks.indices.filterNot(covered).map(toks)
        (id, kept.mkString(" "), covered.count(identity))
      }
      val got = Dedup.substringDedup(
          corpus.map { case (id, toks) => (id, toks.mkString(" ")) }
            .toDF("doc_id", "text"),
          "doc_id", "text", k = k)
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      assert(got == expected.sortBy(_._1).toSeq, s"seed $seed diverged")
    }
  }

  test("substringDedup cuts a within-doc repeat, keeping the first occurrence") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq((7L, s"$span mid gap $span")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => (r.getString(1), r.getInt(2))).head
    assert(got == (s"$span mid gap", 10))
  }

  test("substringDedup coalesces overlapping duplicate windows into one span") {
    // doc 2 embeds a 12-token shared run: duplicate 8-gram starts
    // {3,4,5,6,7} must merge into ONE maximal cut of 12 tokens, not
    // five separate 8-token cuts
    val span = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"
    val docs = Seq(
      (1L, s"a b c $span x y z"),
      (2L, s"p q r $span u v w")).toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got(1L) == (s"a b c $span x y z", 0))
    assert(got(2L) == ("p q r u v w", 12))
  }

  test("substringDedup keeps one intact copy of periodic text") {
    // "= " × 20: every 8-window has the SAME text. Without the
    // self-overlap rule, windows 1..7 (marked duplicate) cut tokens
    // 1..12 out of the KEPT window 0 — truncating the one kept copy
    // to a single token. With it: window 0 kept, windows 1..7 spared
    // (overlap the kept window), windows 8..12 cut tokens 8..19 —
    // exactly the first 8-token window survives.
    val docs = Seq(
      (1L, Seq.fill(20)("=").mkString(" ")),
      // a second doc of the same separator: every window's first
      // owner lives in doc 1, nothing overlaps it here → all cut
      (2L, Seq.fill(12)("=").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got(1L) == (Seq.fill(8)("=").mkString(" "), 12))
    assert(got(2L) == ("", 12))
  }

  test("substringDedupAgainstCorpus cuts corpus-known spans, batch keeps its own") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val own = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"
    val corpus = Seq((100L, s"stored document containing $span here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // shares the 10-token span with the CORPUS → cut
      (1L, s"batch one has $span trailing"),
      // repeats a span WITHIN the batch only → out of scope, kept
      (2L, s"two with $own middle"),
      (3L, s"three with $own ending"))
      .toDF("doc_id", "text")
    val anchors = Dedup.substringAnchorIndex(corpus, "text", k = 8)
    val got = Dedup
      .substringDedupAgainstCorpus(batch, "doc_id", "text", anchors, k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    assert(got(1L) == ("batch one has trailing", 10))
    assert(got(2L) == (s"two with $own middle", 0))
    assert(got(3L) == (s"three with $own ending", 0))
  }

  test("substringDedup leaves short documents (< k tokens) unanchored") {
    val docs = Seq(
      (1L, "tiny dup doc"), (2L, "tiny dup doc"),
      (3L, "  spaced\tout   tokens here  "))
      .toDF("doc_id", "text")
    val got = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      .toMap
    // whole-doc dups below the window length are exactDedup's job
    assert(got(1L) == ("tiny dup doc", 0))
    assert(got(2L) == ("tiny dup doc", 0))
    // pass-through is whitespace-canonical, like every reassembly op
    assert(got(3L) == ("spaced out tokens here", 0))
  }

  test("exactAgainstCorpus: bloom path equals plain path equals expected") {
    val corpus = Seq((11L, "alpha"), (13L, "alpha"), (15L, "beta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (2L, "alpha"),            // dups 11 and 13 → min = 11
      (4L, "beta"),             // dups 15
      (6L, "gamma"),            // genuinely new
      (8L, null.asInstanceOf[String])) // null text: never a duplicate
      .toDF("doc_id", "text")
    val idx = Dedup.exactFingerprintIndex(corpus, "doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val expected = Map(
      2L -> Some(11L), 4L -> Some(15L), 6L -> None, 8L -> None)
    assert(asMap(Dedup.exactAgainstCorpus(
      batch, idx, "doc_id", "text")) == expected)
    val bloom = Dedup.exactBloomIndex(idx)
    assert(asMap(Dedup.exactAgainstCorpus(
      batch, idx, "doc_id", "text", Some(bloom))) == expected)
  }

  test("exactAgainstCorpus: bloom and plain paths agree on real documents") {
    // output equality must hold for ANY bloom over the corpus fps —
    // false positives are cleared by the verify join, false negatives
    // cannot exist. Exercised on the sf corpus with the q_ split.
    val corpusIdx = Dedup.exactFingerprintIndex(
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val plain = Dedup.exactAgainstCorpus(batch, corpusIdx, "doc_id", "text")
      .collect().toSet
    // an undersized bloom (high fpp → many false positives) is the
    // adversarial case for path equality
    val tight = Dedup.exactBloomIndex(corpusIdx, expectedItems = 8)
    val viaBloom = Dedup.exactAgainstCorpus(
      batch, corpusIdx, "doc_id", "text", Some(tight)).collect().toSet
    assert(plain == viaBloom)
    assert(plain.size == batch.count())
  }

  test("mergeBloomIndex: merged increments behave like a one-pass build") {
    val a = Dedup.exactFingerprintIndex(
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"),
      "doc_id", "text")
    val b = Dedup.exactFingerprintIndex(
      Seq((3L, "three")).toDF("doc_id", "text"), "doc_id", "text")
    // increments must share sizing to be bit-compatible
    val merged = Dedup.mergeBloomIndex(
      Dedup.exactBloomIndex(a, expectedItems = 100),
      Dedup.exactBloomIndex(b, expectedItems = 100))
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(merged)
    for (fp <- a.unionByName(b).select("fp").as[String].collect())
      assert(bf.mightContainString(fp), "no false negatives after merge")
    // differently-sized increments must refuse to merge, not corrupt
    intercept[org.apache.spark.util.sketch.IncompatibleMergeException] {
      Dedup.mergeBloomIndex(
        Dedup.exactBloomIndex(a, expectedItems = 100),
        Dedup.exactBloomIndex(b, expectedItems = 999))
    }
  }

  test("bloom index persists through the table store like any model artifact") {
    import graft.streaming.TableStore
    import org.apache.spark.sql.types._
    val store = new TableStore(
      java.nio.file.Files.createTempDirectory("graft-bloom").toString)
    val corpus = Seq((11L, "alpha"), (15L, "beta")).toDF("doc_id", "text")
    val idx = Dedup.exactFingerprintIndex(corpus, "doc_id", "text")
    store.overwrite("fp_index", idx)
    store.overwrite("fp_bloom",
      Seq(Dedup.exactBloomIndex(idx, expectedItems = 100)).toDF("bytes"))
    val idxBack = store.read(spark, "fp_index", StructType(Seq(
      StructField("corpus_doc", LongType), StructField("fp", StringType))))
    val bloomBack = store.read(spark, "fp_bloom", StructType(Seq(
      StructField("bytes", BinaryType))))
      .head().getAs[Array[Byte]]("bytes")
    val batch = Seq((2L, "alpha"), (4L, "new one")).toDF("doc_id", "text")
    val got = Dedup.exactAgainstCorpus(
      batch, idxBack, "doc_id", "text", Some(bloomBack))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(2L -> Some(11L), 4L -> None),
      "reloaded index + bloom must dedup exactly like the in-memory pair")
  }

  test("semDeDup collapses within-cell near-dups, spares cross-cell " +
      "pairs and zero-norm rows") {
    import graft.dedup.Dedup
    // two far-apart cells with explicit centroids; ids 1/2 are
    // near-identical in cell A (2 must collapse into 1), ids 3/4 are
    // near-identical but land in DIFFERENT cells (both survive — the
    // documented SemDeDup boundary approximation), id 5 is zero-norm
    // (never paired, always survives)
    val cenA = Array(10.0, 0.0)
    val cenB = Array(-10.0, 0.0)
    val rows = Seq(
      (1L, Seq(10.0, 1.0)),
      (2L, Seq(10.0, 1.0001)),     // same cell, cosine ~ 1
      (3L, Seq(0.6, 1.0)),         // nearest A (dot-bias argmin L2)
      (4L, Seq(-0.6, 1.0)),        // nearest B, but cosine(3,4) high?
      (5L, Seq(0.0, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semDeDup(df, "vec_id", "embedding",
      Seq(cenA, cenB), threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // cosine(3,4) = (-0.36+1)/ (sqrt(1.36)*sqrt(1.36)) = 0.64/1.36 ≈ 0.47
    // — below 0.9 anyway; make the cross-cell miss explicit with a
    // genuinely near pair straddling the boundary:
    val rows2 = rows ++ Seq(
      (6L, Seq(0.05, 1.0)),        // cell A side of the boundary
      (7L, Seq(-0.05, 1.0)))       // cell B side; cosine(6,7) ≈ 0.995
    val kept2 = Dedup.semDeDup(rows2.toDF("vec_id", "embedding"),
      "vec_id", "embedding", Seq(cenA, cenB), threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L),
      s"within-cell near-dup must collapse to min id, got $kept")
    assert(kept2 == Seq(1L, 3L, 4L, 5L, 6L, 7L),
      s"cross-cell near pair must BOTH survive (the documented " +
        s"boundary approximation), got $kept2")
  }
}
