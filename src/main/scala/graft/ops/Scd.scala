package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension merge — the history-keeping
  * upgrade of the reference's type-1 upsert (POS_spark_dag.py:178–191
  * overwrites a customer row in place; SCD2 instead closes the old
  * version and appends a new one, so "what did this customer look like
  * when the model trained?" stays answerable). The reproducibility
  * twin of TableStore.readAt, at row granularity.
  *
  * History-table contract: the key column, the tracked attribute
  * columns, and three bookkeeping columns —
  * `valid_from` (inclusive), `valid_to` (null while open), and
  * `is_current` (exactly one open row per key).
  *
  * Merge semantics for one batch of updates (key + attributes):
  *  - key unseen before            → insert an open row at `batchTime`
  *  - open row differs (null-safe) → close it (`valid_to = batchTime`,
  *                                   `is_current = false`) and insert
  *                                   the new open row
  *  - open row identical           → no-op (no churn versions)
  *  - closed rows                  → pass through untouched
  *
  * Scale shape: ONE key-hash shuffle joins updates against only the
  * OPEN slice of history (`is_current` is a scan filter — with history
  * partitioned/z-ordered on `is_current`, closed history is never
  * read). Change detection is a null-safe column conjunction evaluated
  * map-side post-join; a batch far smaller than the dimension
  * broadcasts. Closed rows union in without a shuffle. Nothing is
  * proportional to |closed history|.
  */
object Scd {

  /** @param skipDupCheck the duplicate-key guard below runs one extra
    *                      bounded Spark job per merge; a trusted
    *                      upstream that already enforces one-row-per-key
    *                      (e.g. the output of a groupBy/last collapse)
    *                      can skip it on hot paths. With the guard off,
    *                      a dup-key batch silently produces a corrupt
    *                      history — only skip when the contract is
    *                      enforced upstream.
    */
  def scd2Merge(
      history: DataFrame,
      updates: DataFrame,
      key: String,
      batchTime: Column,
      skipDupCheck: Boolean = false): DataFrame = {
    val bookkeeping = Seq("valid_from", "valid_to", "is_current")
    val attrs = updates.columns.filterNot(_ == key).toSeq
    require(updates.columns.contains(key), s"updates missing key '$key'")
    require(bookkeeping.forall(history.columns.contains),
      s"history missing bookkeeping columns $bookkeeping")
    require((attrs :+ key).forall(history.columns.contains),
      "history missing tracked attribute columns")
    require(!attrs.exists(bookkeeping.contains),
      "updates must not carry bookkeeping columns")
    // a batch with two rows for one key would insert two open rows AND
    // fan the superseded join out into duplicated closed rows — there
    // is no defensible silent pick (no ordering column exists to say
    // which is 'last'), so fail loudly; callers collapse upstream
    if (!skipDupCheck) {
      val dupKeys = updates.groupBy(col(s"`$key`"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .select(col(s"`$key`")).take(3)
      require(dupKeys.isEmpty,
        s"updates batch carries multiple rows per key (e.g. " +
          s"${dupKeys.mkString(", ")}) — collapse to one change per key " +
          "per batch before scd2Merge")
    }

    val validToType = history.schema("valid_to").dataType

    val open = history.filter(col("is_current"))
    val closed = history.filter(!col("is_current"))

    // <=> (null-safe equality) per attribute: a null attribute equals
    // null, so a no-change update with nulls stays a no-op instead of
    // spawning a version per batch. Exact and oracle-expressible
    // (IS NOT DISTINCT FROM); for very wide dimensions compare a
    // map-side xxhash64 fingerprint instead and ship (key, fp) only.
    val u = updates.alias("u")
    val o = open.alias("o")
    val unchanged = attrs
      .map(a => col(s"u.`$a`") <=> col(s"o.`$a`"))
      .reduceOption(_ && _).getOrElse(lit(true))
    // materialized once: the inserts projection and the superseded
    // key set both read this join
    val changedOrNew = u
      .join(o, col(s"u.`$key`") === col(s"o.`$key`"), "left")
      .filter(col(s"o.`$key`").isNull || !unchanged)
      .transform(Pins.materializeOnce)

    val outCols = history.columns.toSeq
    val inserts = changedOrNew.select(outCols.map {
      case c if c == key        => col(s"u.`$key`").as(key)
      case "valid_from"         => batchTime.as("valid_from")
      case "valid_to"           => lit(null).cast(validToType).as("valid_to")
      case "is_current"         => lit(true).as("is_current")
      case a                    => col(s"u.`$a`").as(a)
    }: _*)

    // keys whose open row is being superseded this batch
    val superseded = changedOrNew
      .filter(col(s"o.`$key`").isNotNull)
      .select(col(s"u.`$key`").as(key))
      .withColumn("_superseded", lit(true))
    val openAdjusted = open
      .join(superseded, Seq(key), "left")
      .withColumn("valid_to",
        when(col("_superseded"), batchTime.cast(validToType))
          .otherwise(col("valid_to")))
      .withColumn("is_current",
        when(col("_superseded"), lit(false)).otherwise(col("is_current")))
      .drop("_superseded")
      .select(outCols.map(c => col(s"`$c`")): _*)

    closed.select(outCols.map(c => col(s"`$c`")): _*)
      .unionByName(openAdjusted)
      .unionByName(inserts)
  }

  /** Point-in-time SNAPSHOT of the dimension: the rows whose validity
    * interval `[valid_from, valid_to)` covers `at` — "the whole
    * dimension as it looked at `at`". A pure filter (no join, no
    * shuffle): with history partitioned or z-ordered on the interval
    * columns this prunes at the scan. Keys born after `at` simply
    * don't appear.
    */
  def snapshotAt(history: DataFrame, at: Column): DataFrame =
    history.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || col("valid_to") > at))

  /** Point-in-time LOOKUP: attach to each fact row the dimension
    * version that was current at THAT ROW's own time — "what did this
    * customer look like when this order was placed", the train-time
    * feature-correctness read that closes the SCD2 loop (a lookup at
    * serving time must see the same attributes the training run saw).
    *
    * Plan shape: a backward [[TemporalJoins.asOfJoin]] on
    * `valid_from` — ONE key shuffle of |facts| + |history| rows and a
    * window carry, never the per-key nested loop a raw
    * `valid_from <= t < valid_to` range join plans as. Because SCD2
    * intervals are contiguous per key, the most recent
    * `valid_from <= t` version IS the covering version; the residual
    * `valid_to > t` guard only fires on histories with gaps (e.g.
    * deletes), nulling the attached columns rather than attaching a
    * stale version. Facts before the key's first version, or with keys
    * the dimension never saw, keep nulls — a LEFT lookup.
    *
    * `facts` must carry the dimension's key column under the same
    * name; its other columns must not collide with the history's.
    */
  def asOfLookup(
      facts: DataFrame,
      history: DataFrame,
      key: String,
      factTime: String): DataFrame = {
    val attached = history.columns.filterNot(_ == key).toSeq
    val out = TemporalJoins.asOfJoin(
      facts, history, Seq(key), factTime, "valid_from")
    val covered = col("valid_to").isNull || col("valid_to") > col(factTime)
    out.select(
      facts.columns.toSeq.map(c => col(s"`$c`")) ++
        attached.map(c => when(covered, col(s"`$c`")).as(c)): _*)
  }

  /** Bootstrap a history table from an initial dimension snapshot. */
  def scd2Init(snapshot: DataFrame, loadTime: Column): DataFrame = {
    val timeType = snapshot.select(loadTime.as("t")).schema.head.dataType
    snapshot
      .withColumn("valid_from", loadTime)
      .withColumn("valid_to", lit(null).cast(timeType))
      .withColumn("is_current", lit(true))
  }
}
