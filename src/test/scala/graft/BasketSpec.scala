package graft

import org.apache.spark.sql.functions._

import graft.ops.Basket

class BasketSpec extends SparkTestBase {
  import spark.implicits._

  test("pair supports count distinct baskets, each unordered pair once") {
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L),
      (3L, 20L), // duplicate line: presence, not quantity
      (4L, 30L))
    val got = Basket
      .coPurchasePairs(rows.toDF("basket", "item"), "basket", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 20L, 3L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("support prune is exact: minSupport result equals post-filtered") {
    // 40 baskets, item ids overlapping so some pairs clear support 3
    val rows = (1L to 40L).flatMap(b =>
      Seq(b -> (b % 5), b -> (b % 7), b -> (b % 3 + 10)))
    val df = rows.toDF("basket", "item")
    val pruned = Basket
      .coPurchasePairs(df, "basket", "item", minSupport = 3L)
      .collect().map(_.toSeq).toSet
    val naive = Basket
      .coPurchasePairs(df, "basket", "item", minSupport = 1L)
      .filter(col("support") >= 3)
      .collect().map(_.toSeq).toSet
    assert(pruned == naive,
      "a-priori prune changed the result — it must be exact")
  }

  test("a 10^4-item hot basket is capped, not exploded") {
    // one pathological basket (bot/data error) next to normal ones;
    // uncapped it would expand to ~5*10^7 pairs under ONE join key
    val hot = (1L to 10000L).map(i => 99L -> i)
    val normal = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))
    val df = (hot ++ normal).toDF("basket", "item")
    val out = Basket.coPurchasePairs(df, "basket", "item",
      minSupport = 1L, maxBasketSize = 64)
    val n = out.count()
    // hot basket contributes at most C(64,2) pairs; (1,2) pair from
    // the normal baskets must survive with support 2 (+1 if both its
    // items made the hot basket's cap)
    assert(n <= 64L * 63 / 2 + 1,
      s"hot basket was not capped: $n pairs")
    val s12 = out.filter(col("item_1") === 1 && col("item_2") === 2)
      .head().getLong(2)
    assert(s12 >= 2L)
    // the cap keeps the SMALLEST item ids: 1 and 2 are inside the hot
    // basket's 64-id cut, so the pair's support reflects all 3 baskets
    assert(s12 == 3L)
  }

  test("alsoBought ranks partners by support desc, ties to smaller id") {
    val rows = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L),
      (4L, 10L), (4L, 30L))
    // supports: (10,20)=3, (10,30)=2, (20,30)=1
    val got = Basket
      .alsoBought(rows.toDF("basket", "item"), "basket", "item", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (10L, 1, 20L, 3L), (10L, 2, 30L, 2L),
      (20L, 1, 10L, 3L), (20L, 2, 30L, 1L),
      (30L, 1, 10L, 2L), (30L, 2, 20L, 1L)))
  }

  test("cap is deterministic and a no-op under the cap width") {
    val rows = Seq((1L, 3L), (1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L))
    val df = rows.toDF("basket", "item")
    val a = Basket.coPurchasePairs(df, "basket", "item",
      maxBasketSize = 16).collect().map(_.toSeq).toSet
    val b = Basket.coPurchasePairs(df, "basket", "item",
      maxBasketSize = 1024).collect().map(_.toSeq).toSet
    assert(a == b)
    assert(a == Set(Seq(1L, 2L, 1L), Seq(1L, 3L, 1L), Seq(2L, 3L, 2L)))
  }

  test("pmiPairs: hand-checked nano-nat lattice values") {
    import org.apache.spark.sql.functions.col
    // baskets: {A,B} {A,B} {A,C} {B} -> counts A=3 B=3 C=1, nb=4
    // PMI(A,B) = ln(4*2/9)  = -0.117783036 -> -117783036 nano
    // PMI(A,C) = ln(4*1/3)  =  0.287682072 ->  287682072 nano
    val df = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "A"), (3L, "C"), (4L, "B")).toDF("b", "i")
    val got = Basket.pmiPairs(df, "b", "i", minSupport = 1L)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("A", "B", 2L, -117783036L),
      ("A", "C", 1L, 287682072L)))
  }

  test("operators release every internally-pinned frame (no cache leak)") {
    // the r11 verdict's hygiene finding: coPurchasePairs/pmiPairs
    // persisted their domain frames and never unpersisted — in a
    // 200-query session the pinned blocks accumulate. House contract
    // now: materialize (checkpoint) then release, so after the call
    // the CacheManager is back to empty. localCheckpoint blocks are
    // NOT CacheManager entries (ContextCleaner reclaims them), so
    // this probe sees exactly the leak class and nothing else.
    spark.catalog.clearCache()
    val df = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("basket", "item")
    Basket.coPurchasePairs(df, "basket", "item", minSupport = 2L).collect()
    assert(org.apache.spark.sql.GraftSqlShims.cacheIsEmpty(spark),
      "coPurchasePairs left frames pinned in the CacheManager")
    Basket.pmiPairs(df, "basket", "item").collect()
    assert(org.apache.spark.sql.GraftSqlShims.cacheIsEmpty(spark),
      "pmiPairs left frames pinned in the CacheManager")
    Basket.alsoBought(df, "basket", "item", k = 2).collect()
    assert(org.apache.spark.sql.GraftSqlShims.cacheIsEmpty(spark),
      "alsoBought left frames pinned in the CacheManager")
  }

  test("alsoBought releases the pair-scale checkpoint (r17 cut discipline)") {
    // the pair table from coPurchasePairsCut is superseded by the
    // ≤ k-per-item output cut; only that output may stay pinned at
    // RDD level after the call (the Pins.cutWithHandle discipline —
    // a leaked pair-scale frame per call is what degraded the 10×
    // bench samples [15.1, 93.5, 251.2] s)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L))
      .toDF("basket", "item")
    Basket.alsoBought(df, "basket", "item", k = 2).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1,
      s"alsoBought must pin at most its output cut, still pinned: $added")
  }

  test("Bench.dropDeadPins reclaims dead localCheckpoint blocks") {
    // localCheckpoint pins are RDD-level: catalog.clearCache() cannot
    // see them, and the async ContextCleaner reclaims them only after
    // a driver GC — dropDeadPins is the synchronous between-samples
    // reclaim the bench relies on (r17: dead pins accumulating across
    // samples were the q_basket_pmi 10× degradation)
    spark.range(16).toDF("x").localCheckpoint()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.Bench.dropDeadPins(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "dropDeadPins must leave no RDD pinned")
  }
}
