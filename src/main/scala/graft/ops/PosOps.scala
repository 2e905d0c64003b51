package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational operators re-expressing the reference POS pipeline as
  * composable, engine-agnostic DataFrame transforms.
  *
  * Each operator cites the behavior it reproduces in the reference tree
  * (`/root/reference/`). All transforms are lazy logical-plan builders:
  * Catalyst handles pushdown/pruning/join selection; nothing here ever
  * collects to the driver, so every operator scales with executor count.
  */
object PosOps {

  /** Membership tiering — reference `airflow/dags/POS_spark_dag.py:364–392`.
    *
    * Lifetime spend per customer (groupBy + SUM, A1) bucketed into tiers
    * with a CASE expression (P5), left-joined back onto the customer
    * dimension (J2) with "Bronze"/0 defaults for customers that never
    * purchased (P6 coalesce).
    *
    * The tier CASE is evaluated on the aggregate side *before* the join
    * (as the reference does), so the post-join null only feeds the
    * coalesce, never the CASE.
    *
    * Scale: the aggregate output is ≤ |customers| rows and shuffles on
    * the same key as the join, so AQE plans a single shuffle reused by
    * both; no driver-side work. The reference scanned sales twice
    * (POS_spark_dag.py:366 and :396) — [[enrichCustomers]] fuses sum and
    * count into one pass.
    */
  def membershipLevel(
      customers: DataFrame,
      sales: DataFrame,
      custKey: String,
      amount: Column,
      bronzeBelow: Double,
      silverBelow: Double,
      goldBelow: Double): DataFrame = {
    val spend = sales
      .groupBy(col(custKey))
      .agg(sum(amount).as("sum_purchase"))
      .withColumn(
        "membership_level",
        when(col("sum_purchase") < bronzeBelow, "Bronze")
          .when(col("sum_purchase") < silverBelow, "Silver")
          .when(col("sum_purchase") < goldBelow, "Gold")
          .otherwise("Platinum"))
    customers
      .join(spend, Seq(custKey), "left")
      .withColumn("membership_level", coalesce(col("membership_level"), lit("Bronze")))
      .withColumn("sum_purchase", round(coalesce(col("sum_purchase"), lit(0d)), 2))
  }

  /** Purchase frequency — reference `POS_spark_dag.py:394–413`.
    * Per-customer COUNT (A2) left-joined onto the dimension with 0
    * default.
    */
  def purchaseFrequency(
      customers: DataFrame,
      sales: DataFrame,
      custKey: String,
      countCol: String): DataFrame = {
    val freq = sales
      .groupBy(col(custKey))
      .agg(count(col(countCol)).as("purchase_frequency"))
    customers
      .join(freq, Seq(custKey), "left")
      .withColumn("purchase_frequency", coalesce(col("purchase_frequency"), lit(0L)))
  }

  /** Fused customer enrichment: one pass over sales computing both the
    * spend SUM and the purchase COUNT, where the reference issued two
    * separate JDBC scans + aggregations (POS_spark_dag.py:366, :396).
    */
  def enrichCustomers(
      customers: DataFrame,
      sales: DataFrame,
      custKey: String,
      amount: Column,
      countCol: String,
      bronzeBelow: Double,
      silverBelow: Double,
      goldBelow: Double): DataFrame = {
    val agg = sales
      .groupBy(col(custKey))
      .agg(
        sum(amount).as("sum_purchase"),
        count(col(countCol)).as("purchase_frequency"))
      .withColumn(
        "membership_level",
        when(col("sum_purchase") < bronzeBelow, "Bronze")
          .when(col("sum_purchase") < silverBelow, "Silver")
          .when(col("sum_purchase") < goldBelow, "Gold")
          .otherwise("Platinum"))
    customers
      .join(agg, Seq(custKey), "left")
      .withColumn("membership_level", coalesce(col("membership_level"), lit("Bronze")))
      .withColumn("sum_purchase", round(coalesce(col("sum_purchase"), lit(0d)), 2))
      .withColumn("purchase_frequency", coalesce(col("purchase_frequency"), lit(0L)))
  }

  /** Delete-set detection — reference left-anti join
    * `POS_spark_dag.py:155` (sales), `:235` (products), `:319`
    * (customers): rows present in the warehouse snapshot but absent from
    * the fresh extract are the rows to DELETE.
    *
    * Catalyst plans broadcast-hash when the fresh side is small, SMJ
    * otherwise; AQE converts at runtime. No `orderBy` here — the
    * reference's pre-collect sort (O1) is dead weight at scale.
    */
  def deleteSet(snapshot: DataFrame, fresh: DataFrame, key: String): DataFrame =
    snapshot.join(fresh, Seq(key), "left_anti")

  /** Keyed membership gate — reference duplicate-insert checks
    * `kafka_producer.py:41–58` (D2): which candidate keys already exist.
    * Batched as a semi-join instead of per-key file scans.
    */
  def existing(candidates: DataFrame, table: DataFrame, key: String): DataFrame =
    candidates.join(table, Seq(key), "left_semi")

  /** Upsert as a pure relational transform — the batch equivalent of the
    * reference's `INSERT ... ON CONFLICT DO UPDATE`
    * (`POS_spark_dag.py:170–193`): updates win, base rows without a
    * matching key survive.
    *
    * updates ∪ (base ⟕̸ updates). Both sides hash on `key`; with AQE the
    * anti-join broadcasts when updates are small (the common incremental
    * case), so the base table is never shuffled.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.select(updates.columns.map(col).toIndexedSeq: _*)
        .join(updates, Seq(key), "left_anti"))

  /** Category routing — first digit of the product key names the
    * category partition (reference `kafka_consumer.py:41–49, 111–112`;
    * `kafka_producer.py:69–79`).
    *
    * Pure expression (`substring` on the decimal string) — stays inside
    * whole-stage codegen; the 7-entry map is a literal `map` expression,
    * not a join.
    */
  val categoryByDigit: Map[String, String] = Map(
    "1" -> "Daily", "2" -> "Meat", "3" -> "Seafood",
    "4" -> "Vegetable & Fruit", "5" -> "Snack", "6" -> "Beverage",
    "7" -> "Alcohol")

  def routeCategory(productKey: Column): Column = {
    val m = map(
      categoryByDigit.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(
      element_at(m, substring(productKey.cast("string"), 1, 1)),
      lit("Other"))
  }

  /** Daily clean-load (EP1, `POS_spark_dag.py:88–117`): drop rows with
    * any null (P8), full-row dedup (D1), derive. Explicit schema at read
    * time replaces the reference's cast chain (P2) and its
    * `inferSchema=true` extra pass (never infer at scale).
    *
    * `dropDuplicates()` here shuffles ENTIRE rows — harmless at POS
    * fact widths, the whole corpus over the wire at document widths:
    * wide-row callers should use [[cleanLoadWide]], which is
    * output-equal but shuffles only 16-byte fingerprints plus the true
    * duplicates.
    */
  def cleanLoad(raw: DataFrame): DataFrame =
    raw.na.drop().dropDuplicates()

  /** Width-aware clean-load for WIDE rows (documents, not POS facts):
    * output-equal to [[cleanLoad]], but the full-row shuffle that
    * `dropDuplicates()` costs — the whole corpus over the wire at
    * 100 TB — is replaced by
    *
    *  1. one fingerprint-only pass (16-byte md5 per row, no row bytes
    *     shuffled) that finds the fingerprints appearing more than
    *     once — in a real corpus a small minority;
    *  2. a broadcast of that duplicated-fingerprint set: unique rows
    *     pass through MAP-SIDE (broadcast anti-join, zero shuffle),
    *     and only the duplicated rows — bounded by the true dup
    *     volume, not the corpus — shuffle to pick one representative
    *     per fingerprint (content-identical rows, so any
    *     representative is the same row value).
    *
    * The input is scanned three times instead of once; at wide-row
    * scale, columnar re-scans are an order cheaper than a full-row
    * shuffle (and the fingerprint pass prunes to nothing under
    * parquet column pruning — it reads all columns but writes only
    * 16-byte hashes to the exchange). If the duplicated-fingerprint
    * set exceeds `maxDupKeys` (degenerate mostly-duplicate input,
    * where a broadcast would not fit), falls back to fingerprint-keyed
    * `dropDuplicates` — still one full shuffle, but hash-map state
    * keyed on 16 bytes rather than whole rows.
    *
    * Rows are fingerprinted as md5 of their JSON encoding (unambiguous
    * across column boundaries, deterministic within a Spark version);
    * distinct rows colliding on the 128-bit md5 are merged wrongly —
    * the same negligible-at-any-scale assumption
    * [[graft.dedup.Dedup.exactDedup]] documents. Top-level float and
    * double columns are normalized `-0.0 → 0.0` first: `dropDuplicates`
    * groups on value equality (where -0.0 == 0.0) while JSON renders
    * the sign, so an unnormalized fingerprint would keep both rows of
    * a pair `cleanLoad` collapses. Floats nested inside struct/array
    * columns are NOT normalized — callers with -0.0 inside nested
    * columns should normalize upstream.
    */
  def cleanLoadWide(raw: DataFrame, maxDupKeys: Long = 2000000L): DataFrame = {
    val clean = raw.na.drop()
    val fpCol = "__graft_row_fp"
    val fpFields = clean.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          when(col(f.name) === lit(0d), lit(0d))
            .otherwise(col(f.name)).as(f.name)
        case org.apache.spark.sql.types.FloatType =>
          when(col(f.name) === lit(0f), lit(0f))
            .otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    val withFp = clean.withColumn(fpCol,
      md5(to_json(struct(fpFields.toIndexedSeq: _*))))
    // cached across the threshold count and the two joins: uncached,
    // the decision count would run the full fingerprint aggregation a
    // second time. On the broadcast path the cache holds ≤ maxDupKeys
    // 16-byte hashes (what the broadcast holds anyway) and is evicted
    // with the session; the fallback path unpersists immediately.
    val dupFps = withFp.groupBy(col(fpCol))
      .agg(count(lit(1)).as("__graft_fp_n"))
      .filter(col("__graft_fp_n") > 1)
      .select(col(fpCol))
      .persist()
    if (dupFps.count() > maxDupKeys) {
      // degenerate mostly-duplicate input: broadcast would not fit
      dupFps.unpersist()
      withFp.dropDuplicates(fpCol).drop(fpCol)
    } else {
      val uniques = withFp
        .join(broadcast(dupFps), Seq(fpCol), "left_anti")
      val dupReps = withFp
        .join(broadcast(dupFps), Seq(fpCol), "left_semi")
        .dropDuplicates(fpCol)
      uniques.unionByName(dupReps).drop(fpCol)
    }
  }

  /** Stock decrement (A5, `kafka_consumer.py:110–117`) as a batch
    * operator: current stock minus total sold per product. Map-side
    * partial aggregation shrinks the sales side to ≤ |products| rows
    * before the join.
    */
  def stockDecrement(
      products: DataFrame,
      sales: DataFrame,
      productKey: String,
      qty: Column,
      stock: Column): DataFrame = {
    val sold = sales.groupBy(col(productKey)).agg(sum(qty).as("qty_sold"))
    products
      .join(sold, Seq(productKey), "left")
      .withColumn("qty_sold", coalesce(col("qty_sold"), lit(0d)))
      .withColumn("stock_after", stock - col("qty_sold"))
  }

  /** Latest-N view (O3, `kafka_producer.py:151`): top-k by key
    * descending. Plans as TakeOrderedAndProject — per-partition top-k,
    * merge on driver; never a full sort.
    */
  def topK(df: DataFrame, k: Int, ordering: Column*): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** Skew-safe inner equi-join, the single-key convenience form:
    * delegates to [[SkewJoin.saltedJoin]] (the one implementation)
    * with the whole fact row as the salt source — content-stable
    * across retries with no column choice required. Output = exactly
    * the plain inner join.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      salts: Int): DataFrame =
    SkewJoin.saltedJoin(fact, dim, Seq(key), salts,
      struct(fact.columns.map(col).toIndexedSeq: _*))
}
