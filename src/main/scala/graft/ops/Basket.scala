package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Market-basket co-occurrence: which items appear together in the
  * same basket (order, session, cart), with pair support counts — the
  * counting core of association-rule mining (the a-priori candidate
  * pass) and of "customers also bought" co-purchase panels over the
  * reference's sales data.
  *
  * The pair expansion is a per-basket self-join, so raw candidate
  * volume is Σ width² over baskets — fine when baskets are narrow
  * (TPC-H caps orders at 7 lines) and a task-sized blowup the moment
  * one hot basket holds 10⁵ items (10¹⁰ pairs under ONE join key).
  * Two guards bound it, in order:
  *
  *  1. SUPPORT PRUNE (exact): an item present in fewer than
  *     `minSupport` distinct baskets cannot participate in any pair
  *     with support ≥ `minSupport` (pair support ≤ either item's
  *     basket count — the a-priori monotonicity argument), so those
  *     items drop BEFORE pairing with zero effect on the result. The
  *     prune probes a BLOOM FILTER of the frequent items compiled
  *     into the plan ([[graft.functions.BloomMightContain]], the
  *     incremental-dedup discipline) — a map-side filter with NO
  *     extra exchange on the pair frame, where a semi join would
  *     reshuffle it by item. Bloom false positives only let a few
  *     infrequent items through to the candidate stage; the final
  *     `support >= minSupport` filter is exact regardless.
  *  2. BASKET CAP (explicit bound): each basket's surviving items
  *     collect through Spark's bounded-heap top-k aggregate
  *     ([[TopK.collectTopK]]) capped at `maxBasketSize` — O(width ·
  *     log cap) per map task WITH map-side partials, so the one
  *     exchange ships ≤ cap items per basket, and pairs then
  *     generate MAP-SIDE from the sorted in-cap array (a
  *     higher-order `transform`, codegen-friendly) straight into the
  *     pair-count aggregate. No self-join, no width probe, no
  *     per-basket window. The cap keeps the `maxBasketSize`
  *     SMALLEST item ids — deterministic on any layout; which items
  *     survive a 10⁵-item bot basket is arbitrary by nature, and an
  *     id-ordered cut costs zero extra plumbing where a
  *     frequency-weighted cut would pay a per-row frequency join.
  *     This is the only approximating step: pairs confined to a
  *     hyper-basket's tail are dropped, the standard trade.
  *     Candidate volume is bounded by Σ min(width, cap)².
  *
  * Both guards read the deduplicated (basket, item) frame: presence,
  * not quantity, defines co-occurrence. That frame is persisted
  * (MEMORY_AND_DISK — it spills, never evicts) because the frequency
  * pass and the basket-collect pass both scan it, and RELEASED by the
  * operator itself after eagerly checkpointing the bounded pair
  * table (the gini materialize-then-release house style) — a
  * 200-query session accumulates no pinned blocks from this module.
  *
  * Total plan: distinct (1 exchange) + frequent-item aggregate over
  * the cache (1, bounded output) + basket collect (1, capped) +
  * pair-count aggregate (1) — the same exchange count as the naive
  * unguarded self-join, with both guards on.
  *
  * Emits `(item_1, item_2, support)` with `item_1 < item_2` (each
  * unordered pair once) and `support >= minSupport`.
  */
object Basket {

  /** The deduplicated (basket, item) presence frame every operator
    * here reads 2–3 times — distinct once, pinned MEMORY_AND_DISK.
    * CALLER CONTRACT: the caller must `unpersist()` it after its last
    * action over it (the gini materialize-then-release house style);
    * [[coPurchasePairs]] and [[pmiPairs]] both do, so no pinned block
    * outlives the operator call in a long-lived session.
    */
  private[graft] def pairDomain(
      items: DataFrame, basketCol: String, itemCol: String): DataFrame =
    items
      .select(col(basketCol).as("__basket"), col(itemCol).as("__item"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

  def coPurchasePairs(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 1L,
      maxBasketSize: Int = 1024): DataFrame = {
    coPurchasePairsCut(items, basketCol, itemCol, minSupport,
      maxBasketSize)._1
  }

  /** [[coPurchasePairs]] plus the release handle for its checkpoint's
    * pinned blocks (the Pins.cutWithHandle discipline) — for callers
    * like [[alsoBought]] whose OWN output supersedes the pair table.
    */
  private[ops] def coPurchasePairsCut(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long,
      maxBasketSize: Int): (DataFrame, () => Unit) = {
    val li = pairDomain(items, basketCol, itemCol)
    // eager checkpoint materializes the bounded pair table (this IS
    // the operator output — ≤ one row per surviving unordered pair),
    // which both lets the domain cache release immediately and hands
    // multi-reference callers (alsoBought's two symmetrization
    // branches, pmiPairs' joins) a recompute-proof frame
    val cut = Pins.cutWithHandle(
      pairsOverDomain(li, minSupport, maxBasketSize))
    li.unpersist()
    cut
  }

  /** Pair generation over an already-pinned domain frame — both
    * guards (a-priori bloom prune, bounded-heap basket cap) live
    * here. LAZY: the caller owns materialization and the domain's
    * release ordering.
    */
  private[graft] def pairsOverDomain(
      li: DataFrame,
      minSupport: Long,
      maxBasketSize: Int): DataFrame = {
    require(minSupport >= 1L, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2,
      s"maxBasketSize must be >= 2 (a pair needs two items), got " +
        maxBasketSize)
    // guard 1 — exact a-priori prune, probed map-side via a bloom of
    // the frequent items (false positives add candidates, never drop
    // true pairs; the end filter keeps the result exact). ADAPTIVE as
    // of r16: the same per-item counts that would feed the bloom first
    // decide whether the prune can remove ANYTHING — on dense-catalog
    // corpora (TPC-H: every one of the 20k parts clears support 2-3)
    // the old path paid the frequent-set aggregate + a bloom build +
    // a per-row probe to drop zero rows, ~2.5 s of the 5-6 s basket
    // queries at sf0.1 and a full wasted corpus pass at scale. One
    // stats row decides; when at least one item IS infrequent the
    // bloom builds exactly as before (sized from the already-known
    // frequent count, saving its internal count() job too).
    val pruned =
      if (minSupport <= 1L) li
      else {
        val counts = li.groupBy(col("__item"))
          .agg(count(lit(1)).as("__n"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val st = counts.agg(count(lit(1)).as("__t"),
          sum(when(col("__n") >= minSupport, 1L).otherwise(0L))
            .as("__f")).head()
        val nItems = st.getLong(0)
        // sum(when(..)) over ZERO rows is null, not 0 — an empty item
        // domain (empty/all-null input at minSupport ≥ 2) would NPE
        // here (history/ADVICE.md)
        val nFreq = if (st.isNullAt(1)) 0L else st.getLong(1)
        val out =
          if (nFreq >= nItems) li // nothing prunable: skip the bloom
          else {
            val freq = counts.filter(col("__n") >= minSupport)
              .select(col("__item").cast("string").as("fp"))
            val bytes = graft.dedup.Dedup.exactBloomIndex(
              freq, expectedItems = math.max(1L, nFreq), fpp = 0.01)
            li.filter(coalesce(
              graft.functions.GraftFunctions.bloomMightContain(
                col("__item").cast("string"), bytes),
              lit(false)))
          }
        counts.unpersist()
        out
      }
    // guard 2 — per-basket bounded-heap collect (≤ cap smallest item
    // ids survive; partial heaps merge map-side), then pairs generate
    // map-side from the sorted array: element i pairs with every
    // later element, so item_1 < item_2 holds by construction and
    // each unordered pair appears exactly once
    val baskets = pruned.groupBy(col("__basket"))
      .agg(array_sort(
        TopK.collectTopK(col("__item"), maxBasketSize, largest = false))
        .as("items"))
    baskets
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
             transform(slice(items, i + 2, size(items)),
               y -> struct(x AS item_1, y AS item_2))))""")).as("p"))
      .select(col("p.item_1").as("item_1"), col("p.item_2").as("item_2"))
      .groupBy(col("item_1"), col("item_2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** "Customers also bought": for every item, its `k` strongest
    * co-purchase partners by support (ties to smaller partner id) —
    * the recommendation panel read of [[coPurchasePairs]]. The
    * symmetrized pair table ranks through the bounded-heap [[TopK]]
    * (O(n log k) per map task, ≤ k-row states on the wire), never a
    * window sort over every item's full partner list — a staple item
    * co-occurring with 10⁶ others costs its partition a heap, not a
    * sort. The pair table arrives checkpointed from
    * [[coPurchasePairs]], so the two symmetrization branches share
    * materialized blocks (it is the whole upstream pipeline;
    * recomputing it per branch doubles the operator). Emits
    * `(item, rank, other, support)`.
    */
  def alsoBought(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      k: Int,
      minSupport: Long = 1L,
      maxBasketSize: Int = 1024): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    // coPurchasePairs hands back an eagerly-checkpointed pair table,
    // so the two symmetrization branches below read materialized
    // blocks — no second persist; the pair-scale checkpoint is
    // released once the ≤ k-per-item output (the strictly smaller
    // frame) is its own cut (the Pins.cutWithHandle discipline)
    val (pairs, releasePairs) =
      coPurchasePairsCut(items, basketCol, itemCol, minSupport,
        maxBasketSize)
    val sym = pairs
      .select(col("item_1").as("item"), col("item_2").as("other"),
        col("support"))
      .unionByName(pairs.select(col("item_2").as("item"),
        col("item_1").as("other"), col("support")))
    val out = TopK.topKPerGroup(
        sym.withColumn("__neg_other", -col("other")),
        Seq("item"),
        struct(col("support"), col("__neg_other"), col("other")),
        k, largest = true)
      .select("item", "rank", "other", "support")
      .localCheckpoint()
    releasePairs()
    out
  }

  /** Pointwise mutual information per co-purchase pair —
    * PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over baskets, i.e.
    * ln( (n_baskets · support_ab) / (count_a · count_b) ): the
    * association STRENGTH behind a support count (raw support ranks
    * popular-with-everything items first; PMI surfaces pairs bought
    * together far beyond their individual popularity — "lift" in
    * retail terms, in nats).
    *
    * Pairs come from [[pairsOverDomain]] over the SAME pinned domain
    * that feeds the margins (both coPurchasePairs guards apply; the
    * fact-scale distinct computes once, not twice); the per-item
    * basket counts attach by two item-keyed joins and the basket
    * total by broadcast. Determinism is the 9-dp lattice
    * (lm_score discipline): the log argument is a FIXED sequence of
    * correctly-rounded IEEE ops ((s·n as double) / (c_a·c_b as
    * double) — longs cast before multiplying), the result carried as
    * integer nano-nats.
    *
    * @return (item_1, item_2, support, pmi_nano)
    */
  def pmiPairs(
      items: DataFrame,
      basketCol: String,
      itemCol: String,
      minSupport: Long = 1L,
      maxBasketSize: Int = 1024): DataFrame = {
    // ONE distinct (basket,item) domain feeds all three reads — the
    // pair generation, the per-item margins, the basket total —
    // then releases: pairs/margins/totals are checkpointed bounded
    // tables, so nothing stays pinned and the fact-scale distinct
    // computes exactly once (r11 built it twice and leaked both)
    val li = pairDomain(items, basketCol, itemCol)
    val pairs = pairsOverDomain(li, minSupport, maxBasketSize)
      .localCheckpoint()
    val perItem = li.groupBy(col("__item").as("__i"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint() // ≤ one row per item
    val nb = li.agg(count_distinct(col("__basket")).as("__nb"))
      .localCheckpoint() // one row
    li.unpersist()
    val out = pairs
      .join(perItem.select(col("__i").as("item_1"), col("__c").as("__c1")),
        Seq("item_1"))
      .join(perItem.select(col("__i").as("item_2"), col("__c").as("__c2")),
        Seq("item_2"))
      .crossJoin(broadcast(nb))
      .select(col("item_1"), col("item_2"), col("support"),
        (round(log((col("support").cast("double") *
            col("__nb").cast("double")) /
          (col("__c1").cast("double") * col("__c2").cast("double"))), 9)
          .cast("decimal(20,9)") * lit(1000000000L)).cast("long")
          .as("pmi_nano"))
    out
  }
}
