package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftCoreShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR (default sf0.1) on [[GraftSession.cpus]] local
  * cores.
  *
  * Writes the full result JSON (per-query median seconds, per-query
  * `[min, median, max]` run spread — a contended line self-identifies
  * as max/min ≥ ~2 right in the artifact — per-query
  * shuffle read/write bytes, and before/after machine-load context — wall-time saturated the baseline rounds
  * ago; shuffle volume is the signal that catches O(n²) candidate
  * growth in the LSH paths before wall-time does) to a file
  * (SPARK_GRAFT_BENCH_OUT, default ./BENCH_OUT.json) and stdout, then
  * prints a SHORT summary JSON line LAST: the driver keeps only the
  * tail of the log, and the full line has outgrown it (r4/r5 both
  * recorded parsed:null from a head-truncated line). A failing query
  * FAILS the run (non-zero exit) — round 1 recorded broken queries as
  * fast successes.
  *
  * Optional args: query names to run (a subset, for local
  * iteration); with none, every registered query runs.
  */
object Bench {

  /** A per-query run spread self-identifies as contended when
    * max/min ≥ this ratio — the empirical threshold from three rounds
    * of adjudicated driver-box spikes (r10 triangle ×13, r12 k-core
    * ×16): real per-query regressions moved the WHOLE spread, never
    * one isolated sample.
    */
  val ContentionRatio: Double = 2.0

  /** Extra trials granted to a contended line, so an isolated
    * contention spike cannot become the median of record (three
    * r12 medians — q_kcore 26.9 s, q_copurchase, q_calibration —
    * absorbed a mid-run episode that the judge then had to
    * re-adjudicate by hand).
    */
  val MaxExtraRuns: Int = 2

  /** Extra trials for a contended HEAVY line (best sample above
    * [[HeavyTierSec]]): with only runs+2 samples, one sustained
    * episode can still shift the lower-middle median of a >5 s line
    * by whole seconds (r13: 38 driver lines self-flagged even after
    * the retry pass), so heavy lines buy two more trials. The tier
    * tests the spread MINIMUM — the least-contaminated estimate of
    * the line's true cost (a contended median may itself be the
    * spike).
    */
  val MaxExtraRunsHeavy: Int = 4

  /** Boundary between the cheap and heavy retry tiers, seconds. */
  val HeavyTierSec: Double = 5.0

  /** True when a run spread self-identifies as contended. A single
    * sample carries no spread, so it can never be flagged.
    */
  def isContended(timings: Seq[Double]): Boolean =
    timings.size >= 2 &&
      timings.max(Ordering.Double.TotalOrdering) /
        timings.min(Ordering.Double.TotalOrdering) >= ContentionRatio

  /** Self-healing sample loop: `runs` base samples, then — if the
    * spread is contended — [[MaxExtraRuns]] extra trials
    * ([[MaxExtraRunsHeavy]] when the spread minimum clears
    * [[HeavyTierSec]]), and the caller medians over ALL samples. The
    * extras cannot shrink the recorded max/min (a spike stays in the
    * spread, which is the point: the artifact still shows contention
    * happened), but with the extra samples one spike can no longer BE
    * the lower-middle median of record. Factored from the timed loop
    * so the retry policy is unit-testable without a Spark session.
    */
  def sampleWithRetry[A](runs: Int, sample: () => (Double, A)): Vector[(Double, A)] = {
    val base = Vector.fill(runs)(sample())
    val t = base.map(_._1)
    if (isContended(t)) {
      val extra =
        if (t.min(Ordering.Double.TotalOrdering) > HeavyTierSec)
          MaxExtraRunsHeavy
        else MaxExtraRuns
      base ++ Vector.fill(extra)(sample())
    } else base
  }

  /** Accumulates shuffle bytes across task-end events; reset per
    * query, snapshot after draining the listener bus.
    */
  private final class ShuffleListener extends SparkListener {
    val read = new AtomicLong(0L)
    val write = new AtomicLong(0L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = { read.set(0L); write.set(0L) }
  }

  /** Machine-load snapshot — 1/5/15-min loadavg plus the number of
    * OTHER live JVMs on the box. Captured before and after the timed
    * loop and recorded in the artifact, so a contended run is
    * machine-identifiable from the JSON alone: r9's driver artifact
    * disagreed with the same-commit builder run by 50% (137.9 s vs
    * 92.1 s) and the contention explanation had to be reconstructed
    * from per-query forensics after the fact.
    */
  private def envSnapshot(): String = {
    val load =
      try Files.readString(Paths.get("/proc/loadavg")).trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Exception => "-1,-1,-1" }
    val jvms =
      try {
        import scala.jdk.CollectionConverters._
        Files.list(Paths.get("/proc")).iterator().asScala.count { p =>
          p.getFileName.toString.forall(_.isDigit) && {
            val comm = p.resolve("comm")
            try Files.readString(comm).trim == "java"
            catch { case _: Exception => false }
          }
        }
      } catch { case _: Exception => -1 }
    s"""{"loadavg":[$load],"java_procs":$jvms,""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors}}"""
  }

  /** Drop every RDD still pinned in executor storage. Operators hand
    * back eagerly-checkpointed frames (localCheckpoint pins blocks
    * that `catalog.clearCache()` cannot see — it only clears the SQL
    * relation cache), and once the timed action has consumed a result
    * those blocks are reclaimed only when a driver GC cycle feeds the
    * ASYNC ContextCleaner — under -Xmx100g that lags many samples
    * behind. The r17 10× campaign measured q_basket_pmi degrading
    * [15.1, 93.5, 251.2] s across its three samples in one JVM from
    * exactly this accumulation (history/OPTIMIZATION_r17.md §2.5).
    * Between samples nothing may legitimately stay pinned (the
    * induction memos hold plain values, fixtures are on-disk paths),
    * so whatever remains is a dead pin of the sample that just
    * finished — drop it synchronously, OUTSIDE the timed region, the
    * dropAllShuffles discipline.
    */
  private[graft] def dropDeadPins(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    // shuffle partitions track the core count by default; the 10×/100×
    // tiers override this upward (a cluster sizes partitions to the
    // DATA — pinning 32 at 100× the volume measures spill crossover,
    // not the operator; history/PLANS_r11.md §4a)
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(GraftSession.cpus)
    val spark = GraftSession
      .builder(s"local[${GraftSession.cpus}]", shuffleParts).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // untimed warmup: session/codegen/shuffle-machinery startup AND the
    // cold first read of every sf-dir table (OS page cache + parquet
    // footers) must not be billed to whichever query runs first — round
    // 2 billed the cold sf0.1 read to q1, the alphabetical leader
    spark.range(1000).selectExpr("sum(id)").count()
    SparkEntry.entry(spark).count()
    // noop-write, not count(): count() compiles to a metadata-only
    // parquet scan that never touches the heavy text/embedding columns,
    // so the first text query was still billed ~2.5 s of cold column
    // read (round 3 billed it to q_dedup_corpus, the alphabetical
    // leader among text queries)
    Tables.all.foreach(n =>
      Tables.loaders(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save())
    SparkEntry.warmFixtures(spark, sfDir) // one-time fixtures, untimed
    // JMH-style JVM warmup: run every benched query once at the tiny
    // warm dir, untimed. Spark's codegen cache keys on generated-code
    // TEXT (paths live in scan metadata, not the generated class), so
    // this pre-compiles ~all generated operators for the timed loop —
    // round 3 billed ~3 s of one-time Janino+C2 compilation to
    // whichever query first touched each pipeline family.
    val warmDir = sys.env.getOrElse(
      "SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir != sfDir && Files.isDirectory(Paths.get(warmDir))) {
      SparkEntry.warmFixtures(spark, warmDir)
      names.foreach { n =>
        SparkEntry.queries(n)(spark, warmDir)
          .write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
      }
    }
    spark.catalog.clearCache()
    System.gc()
    dropDeadPins(spark)
    val shuffle = new ShuffleListener
    spark.sparkContext.addSparkListener(shuffle)
    // median-of-Runs per query: a single sample on a shared box showed
    // 2.5-3.5x phantom regressions in the round-6 tracked artifact
    // (disproven on re-run); the median absorbs one bad sample while
    // still letting a real regression through
    val Runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(Runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $Runs")
    val envBefore = envSnapshot()
    val results = names.map { name =>
      // stderr progress marker: ties any mid-run failure (OOM, disk
      // full) to the query that caused it — the r13 100× sweep died
      // with only a bare stack trace and cost a full re-run to locate
      // the disk that matters is where SHUFFLE/SPILL files land;
      // mirror Utils.getConfiguredLocalDirs precedence — the
      // SPARK_LOCAL_DIRS env var OVERRIDES the spark.local.dir conf —
      // so the marker reports the volume Spark actually spills to
      // (first entry of a comma list), falling back to tmpdir
      val spillDir = sys.env.get("SPARK_LOCAL_DIRS")
        .getOrElse(spark.sparkContext.getConf
          .get("spark.local.dir", System.getProperty("java.io.tmpdir")))
        .split(',').head
      System.err.println(f"[bench] $name disk_free_gb=${
        new java.io.File(spillDir).getUsableSpace / 1e9}%.1f" +
        s" spill_dir=$spillDir")
      val fn = SparkEntry.queries(name)
      def sample(): (Double, (Long, Long)) = {
        shuffle.reset()
        val t0 = System.nanoTime()
        // noop-write, NOT count(): count() lets Catalyst prune every
        // column and even eliminate row-preserving joins (a left join
        // against an aggregate on the join key is provably 1:1 and
        // gets removed), so a map-shaped query "benches" as a
        // metadata-only parquet count — q_substring_dedup timed 0.25 s
        // with 59 shuffle bytes that way. The noop sink materializes
        // every output column through the full plan, which is what a
        // real consumer pays.
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // task-end events are async; drain before snapshotting so each
        // query's shuffle bytes land on the query that caused them
        GraftCoreShims.drainListenerBus(spark.sparkContext)
        val sh = (shuffle.read.get(), shuffle.write.get())
        // queries persist intermediate signature tables; drop them so
        // timings stay independent, and nudge GC so one query's garbage
        // is not billed to the next
        spark.catalog.clearCache()
        System.gc()
        dropDeadPins(spark)
        // shuffle files are reclaimed by the ASYNC ContextCleaner,
        // which can lag a loop of shuffle-heavy queries until the
        // disk fills (the r13 100× sweep died this way) — drop them
        // synchronously; no job is running between samples
        GraftCoreShims.dropAllShuffles(spark.sparkContext)
        (dt, sh)
      }
      // self-healing against contention spikes: a contended base
      // spread earns MaxExtraRuns extra trials and the median of
      // record is over ALL samples — r12 shipped three medians that
      // were themselves the spike
      val samples = sampleWithRetry(Runs, () => sample())
      // shuffle bytes travel with the median run's sample so the pair
      // stays internally consistent (bytes are deterministic anyway).
      // Lower-middle for even run counts: noise on a shared box is
      // strictly additive, so between the two middles the faster one
      // is the better estimate (Runs=2 would otherwise record the MAX)
      val sorted = samples.sortBy(_._1)(Ordering.Double.TotalOrdering)
      val (dt, sh) = sorted((samples.size - 1) / 2)
      // full [min, median, max] run spread rides in the artifact: a
      // max/min ratio ≥ ~2 self-identifies a contended line from the
      // JSON alone, instead of costing a judge/builder re-measure
      // cycle (r10's 162 s and r11's 12.3 s triangle lines both did)
      (name, dt, sh, sorted.head._1, sorted.last._1)
    }
    // lines whose final spread still self-identifies as contended —
    // the retry cannot remove a spike from min/max (by design), so
    // this is exactly "contention happened here; the median of record
    // absorbed MaxExtraRuns extra trials"
    val contendedNames = results.collect {
      case (k, _, _, mn, mx) if isContended(Seq(mn, mx)) => k }
    val contendedJson =
      contendedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, _, (r, w), _, _) =>
      "\"" + k + s"""\":{"read":$r,"write":$w}""" }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, med, _, mn, mx) =>
      "\"" + k + f"""\":[$mn%.3f,$med%.3f,$mx%.3f]""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val envAfter = envSnapshot()
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$Runs,"contended":$contendedJson,"queries":$qs,"spread":$spread,"shuffle_bytes":$sh,"env_before":$envBefore,"env_after":$envAfter,"sf":"$sfDir"}"""
    println(full)
    Files.writeString(Paths.get(out), full + "\n")
    // the contract-format line goes LAST on both streams AND must fit
    // the driver's 2000-char tail window with ~80 chars of sbt footer
    // after it: r3–r5 all recorded parsed:null because the all-queries
    // line is ~2100 chars and still growing every round. The line
    // keeps the contract schema but carries the SLOWEST `TopN` queries
    // (full names, 2-decimal seconds) — the hot-spot signal the
    // per-query map exists for; the fast tail and shuffle bytes live
    // in full fidelity in the `out` file.
    val TopN = 48
    val top = results.sortBy(-_._2).take(TopN)
    val qsShort = top.map { case (k, v, _, _, _) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val sfLabel = Paths.get(sfDir).getFileName.toString
    val contract =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        f""""n_queries":${results.size},"runs":$Runs,""" +
        f""""contended":$contendedJson,"queries":$qsShort,""" +
        f""""full":"$out","sf":"$sfLabel"}"""
    println(contract)
    System.err.println(contract)
    spark.stop()
  }
}
