package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One workload run's outcome: `metrics` is what the result line
  * carries (end-to-end when untraced, per-layer when traced);
  * `summary` is the human-readable line printed before it.
  */
final case class Result(
    attempted: Long, failed: Long,
    metrics: Seq[(String, Double)], summary: Seq[(String, Double)],
    tracer: Option[Tracer])

/** One timed operation: its wall seconds, and the share of the CPU
  * time the VM asked for meanwhile that the hypervisor gave to other
  * guests (from /proc/stat).
  */
final case class Timing(wall: Double, steal: Double) {
  /** Wall time without the stolen share. Engine changes move it as
    * they move the wall time; the time other guests take this VM's
    * CPUs away is taken out. Other interference (memory bandwidth,
    * disk) stays in.
    */
  def unstolen: Double = wall * (1 - steal)
}

object Timing {
  def of[A](body: => A): (A, Timing) = {
    val k0 = Bench.cpuTicks()
    val t0 = System.nanoTime()
    val a = body
    val wall = (System.nanoTime() - t0) / 1e9
    (a, Timing(wall, Bench.stealShare(k0, Bench.cpuTicks())))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Shared state of one benchmark run: the session, the arguments, and
  * the housekeeping every workload does between timed operations.
  */
final class Bench(
    val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val inputs: String,
    expectedFile: Path, startEpochNs: Long, startTicks: (Long, Long)) {

  val codegenFallbacks: AtomicLong = Bench.countCodegenFallbacks()

  /** CPU ticks when the timed region began. */
  var timedTicks: (Long, Long) = (0L, 0L)

  def sinceStart(): Double = (Bench.epochNs() - startEpochNs) / 1e9

  /** Set-up time: from process start to now, the start of the timed
    * region.
    */
  def setup(): Timing = {
    timedTicks = Bench.cpuTicks()
    Timing(sinceStart(), Bench.stealShare(startTicks, timedTicks))
  }

  /** Committed output fingerprints: query -> fingerprint. */
  def expected(): Map[String, String] =
    if (Files.exists(expectedFile)) Json.readFlat(Files.readString(expectedFile))
    else Map.empty

  /** Releases everything one operation left behind, outside any timed
    * region: persisted RDDs (localCheckpoint pins), the SQL cache and
    * shuffle files.
    */
  def release(): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    if (sc.statusTracker.getActiveJobIds().isEmpty)
      org.apache.spark.GraftCoreShims.dropAllShuffles(sc)
  }

  /** Persisted RDDs the last operation left reachable. The context
    * holds persisted RDDs through weak references, so a garbage
    * collection first drops those nothing refers to any more: without
    * it the count would depend on when the last collection ran.
    */
  def pinsLeft(): Int = {
    System.gc()
    spark.sparkContext.getPersistentRDDs.size
  }

  /** Waits, outside any timed region, until the engine is idle:
    * releases what the last operation left behind, delivers every
    * pending listener event and collects garbage, so each timed
    * operation starts from the same state.
    */
  def quiesce(): Unit = {
    release()
    org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)
    System.gc()
  }

  /** Progress note on stderr (stdout carries only the result lines). */
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def report(op: String, e: Throwable): Unit = {
    System.err.println(s"[perfbench] $op failed: $e")
    e.printStackTrace(System.err)
  }
}

object Bench {
  /** Cores the local session runs on (fixed, so counts repeat). */
  val Cores = 4

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Counts whole-stage codegen fallbacks (generated code that failed
    * to compile, e.g. past the 64 KB method limit) from the warning
    * Spark logs each time it falls back.
    */
  def countCodegenFallbacks(): AtomicLong = {
    val n = new AtomicLong
    val appender = new AbstractAppender("perfbench-codegen", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .startsWith("Whole-stage codegen disabled")) n.incrementAndGet()
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    val lc = new LoggerConfig(name, Level.WARN, false)
    lc.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    n
  }

  /** The VM's CPU ticks so far, from /proc/stat: (busy, stolen by the
    * hypervisor). Zeros where /proc/stat is missing.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the CPU time asked for between two [[cpuTicks]] readings
    * that the hypervisor gave to other guests.
    */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val steal = b._2 - a._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }

  /** Load and JVM context, so a run on a busy host identifies itself. */
  def machine(): Seq[(String, String)] = {
    val load =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
        .take(3).mkString("[", ",", "]")
      catch { case _: Exception => "null" }
    val self = ProcessHandle.current().pid()
    val jvms =
      try Files.list(Paths.get("/proc")).iterator().asScala.count { p =>
        val n = p.getFileName.toString
        n.forall(_.isDigit) && n.toLong != self &&
          (try Files.readString(p.resolve("comm")).trim == "java"
           catch { case _: Exception => false })
      } catch { case _: Exception => -1 }
    Seq("loadavg" -> load, "other_jvms" -> jvms.toString,
      "host_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "session_cores" -> Cores.toString)
  }

  /** Every per-layer metric a traced run reports; a layer the workload
    * does not exercise reads 0.
    */
  val PerLayer: Seq[String] = {
    val counts = Seq("jobs", "stages", "tasks", "executor_run_s")
    Seq("construct.wall_s") ++ counts.map("construct." + _) ++
      Seq("construct.share") ++
      Tracer.Families.flatMap(f => Seq(s"construct.$f.wall_s", s"construct.$f.jobs")) ++
      Seq("plan.wall_s", "exec.wall_s") ++
      (counts ++ Seq("executor_cpu_s", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "core_busy", "codegen_fallbacks"))
        .map("exec." + _) ++
      Seq("session.pins_left") ++
      Seq("append", "wave").flatMap(p =>
        Seq("triggers", "trigger_s", "addBatch_s", "latestOffset_s",
          "queryPlanning_s", "walCommit_s", "jobs_per_trigger", "shuffle_bytes")
          .map(k => s"ingest.$p.$k") ++
        Seq("versions_committed", "live_versions", "partitions_rewritten",
          "bytes_written_per_event_byte").map(k => s"store.$p.$k")) ++
      Seq("store.read_s", "jobs.daily_load_s", "jobs.hourly_sync_s",
        "sinks.rows_upserted", "sinks.rows_deleted", "sinks.rows_per_s",
        "trace.overhead_s", "raw_setup_s", "raw_pass_s")
  }

  /** Unit of a metric, from its name. */
  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s") && !k.endsWith("_per_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_eps") || k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("share") || k.endsWith("core_busy") ||
      k.endsWith("_frac") || k.endsWith("per_event_byte")) "ratio"
    else "count"

  val Workloads: Seq[String] =
    Seq("analytics", "pos_pipeline")

  def session(work: String, name: String): SparkSession =
    GraftSession.builder(s"local[$Cores]", Cores)
      .appName(name)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val startTicks = cpuTicks()
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val work = Paths.get(opts("--work")).toAbsolutePath.toString
    val inputs = Paths.get(opts("--inputs")).toAbsolutePath.toString
    if (opts.contains("--prepare")) {
      val spark = session(work, "perfbench-prepare")
      try Analytics.prepare(spark, inputs) finally spark.stop()
      return
    }
    val workload = opts("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val before = machine()
    val spark = session(work, s"perfbench-$workload")
    val b = new Bench(spark, opts("--seed").toLong, opts("--seconds").toDouble,
      opts("--trace") == "1", work, inputs,
      Paths.get(opts("--expected")), opts("--t0").toLong, startTicks)
    b.log(f"session ready at ${b.sinceStart()}%.2f s")
    val r = workload match {
      case "analytics" => Analytics.run(b)
      case "pos_pipeline" => Pipeline.run(b)
    }
    val after = machine()
    r.tracer.foreach { t =>
      val out = Paths.get(opts("--spans"))
      Files.createDirectories(out.getParent)
      Files.writeString(out, t.spansJson)
      println("perfbench self_s " + Json.obj(t.selfSeconds.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }))
    }
    println("perfbench context " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> b.seed.toString,
      "trace" -> b.trace.toString,
      "before" -> Json.obj(before), "after" -> Json.obj(after))))
    val failedFrac = r.failed.toDouble / math.max(r.attempted, 1)
    val steal = Bench.stealShare(b.timedTicks, Bench.cpuTicks())
    println("perfbench summary " + (r.summary ++ Seq("failed_frac" -> failedFrac,
      "steal_frac" -> steal))
      .map { case (k, v) => f"$k=${Json.num(v)} ${unitOf(k)}" }.mkString(", "))
    spark.stop()
    val reported =
      if (!b.trace) r.metrics
      else {
        val got = r.metrics.toMap
        require(got.keySet.subsetOf(PerLayer.toSet),
          s"unlisted per-layer metrics: ${got.keySet -- PerLayer}")
        PerLayer.map(k => k -> got.getOrElse(k, 0.0))
      }
    val metrics = Json.obj(reported.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unitOf(k))))
    })
    println(Json.obj(Seq("correct" -> (r.failed == 0).toString,
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "metrics" -> metrics)))
  }
}
