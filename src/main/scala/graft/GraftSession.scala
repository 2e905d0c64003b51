package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's session configuration lives — harness
  * mains and deployments build from here so local runs and cluster
  * submissions agree on the settings the design depends on.
  */
object GraftSession {
  /** Local core count of the harness mains: `SPARK_GRAFT_CPUS`, else
    * every core the JVM sees.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core. */
  def local(): SparkSession.Builder = builder(s"local[$cpus]", cpus)

  /** @param master             e.g. "local[4]"; on a cluster pass the
    *                           usual yarn/k8s master via spark-submit
    *                           and leave this empty-string to inherit
    * @param shufflePartitions  size to ~2-3× total executor cores (the
    *                           harnesses pass the local core count)
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
    val withMaster = if (master.nonEmpty) b.master(master) else b
    withMaster
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // native expressions resolve in spark.sql() without a register()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // AQE coalescing + runtime skew-join splitting are Spark 4.x
      // defaults, pinned explicitly because the 100 TB plan shapes
      // (bucketed LSH joins, fact-table shuffles) depend on them
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.parquet carries parquet TIMESTAMP(NANOS); see
      // Tables.events for the read-side conversion
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false") // harness default; re-enable on clusters
  }
}
