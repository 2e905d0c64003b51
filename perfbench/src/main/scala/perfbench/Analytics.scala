package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** The analytics workload: one client runs a fixed list of
  * `SparkEntry.queries` closed-loop, one query after another. Each
  * query is timed as construction (the closure call, with every eager
  * job the operators run) and the final action (a noop-sink write that
  * materializes every column). A traced pass splits the write into its
  * own Catalyst planning and execution.
  */
object Analytics {

  /** Queries that share one input scale. */
  final case class Group(name: String, orders: Long, queries: Seq[String])

  /** Construction-bound: graph ranking, semantic dedup over k-means
    * and video dedup, each running many small eager jobs on
    * sf0.001-sized inputs.
    */
  val DriverBound: Group = Group("driver_bound", 1500,
    Seq("q_pagerank", "q_semdedup", "q_video_dedup_clusters"))

  /** Execution-bound on sf0.1-sized inputs: an exact correlation scan
    * that runs on one core, and the one whole-stage codegen fallback
    * (q_knn_ivfpq).
    */
  val DataBound: Group = Group("data_bound", 150000,
    Seq("q_corr_exact", "q_knn_ivfpq"))

  val Groups: Seq[Group] = Seq(DriverBound, DataBound)

  /** The analytics inputs are the same for every seed: these queries'
    * work depends on the data (convergence loops, cluster counts), and
    * per-seed content moved one pass by up to 2x. Being seed-free, they
    * are generated once per build ([[prepare]]); the fingerprints in
    * `expected/analytics.json` are for this content.
    */
  val ContentSeed = 0L

  def inputDir(inputs: String, g: Group): String = s"$inputs/${g.name}"

  /** Writes every group's inputs under `inputs`. */
  def prepare(spark: org.apache.spark.sql.SparkSession, inputs: String): Unit =
    Groups.foreach(g => Gen.write(spark, inputDir(inputs, g), ContentSeed,
      Gen.Scale(g.orders)))

  /** One query's timing; `plan` is 0 in an untraced pass, where it is
    * part of `exec`. `steal` is the hypervisor's share meanwhile;
    * `pinsLeft` is counted in traced passes only.
    */
  final case class QueryTime(name: String, construct: Double, plan: Double,
      exec: Double, steal: Double, pinsLeft: Int = 0) {
    def total: Double = construct + plan + exec
    def unstolen: Double = Timing(total, steal).unstolen
  }

  def run(b: Bench): Result = {
    val spark = b.spark
    val queries = Groups.flatMap(g => g.queries.map(_ -> inputDir(b.inputs, g)))
    val expected = b.expected()

    // warm-up pass, outside the timed region: every query once, its
    // output fingerprinted and compared with the committed value
    var attempted = 0L
    val wrong = mutable.LinkedHashSet.empty[String]
    queries.foreach { case (q, dir) =>
      attempted += 1
      val w0 = System.nanoTime()
      try {
        val fp = Fingerprint.of(SparkEntry.queries(q)(spark, dir))
        if (!expected.get(q).contains(fp)) {
          wrong += q
          System.err.println(s"[perfbench] $q fingerprint $fp, expected " +
            expected.getOrElse(q, "none"))
        }
      } catch { case e: Exception => wrong += q; b.report(q, e) }
      b.log(f"warm-up $q ${(System.nanoTime() - w0) / 1e9}%.2f s")
      b.release()
    }
    // a second warm-up pass, run as the timed passes run: after one
    // pass the JIT is still compiling code every query shares
    var failed = 0L
    queries.foreach { case (q, dir) =>
      attempted += 1
      try SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        .format("noop").save()
      catch { case e: Exception => failed += 1; b.report(q, e) }
      finally b.quiesce()
    }
    val setup = b.setup()

    // timed passes: untraced passes give the end-to-end metrics; in a
    // traced run they alternate with traced passes (U, T, U, ...)
    val untraced = mutable.ArrayBuffer.empty[Seq[QueryTime]]
    val traced = mutable.ArrayBuffer.empty[(Seq[QueryTime], Tracer, Long)]
    val t0 = System.nanoTime()
    def passes = untraced.size + traced.size
    // a traced run brackets its traced pass with untraced ones, so the
    // overhead estimate is not skewed by warm-up still in progress
    while (untraced.isEmpty || (b.trace && untraced.size < 2) ||
        (System.nanoTime() - t0) / 1e9 * (passes + 1) / passes <= b.seconds) {
      val tracing = b.trace && traced.size < untraced.size
      val tracer = new Tracer(spark, tracing)
      val cg0 = b.codegenFallbacks.get
      b.quiesce()
      val times = queries.flatMap { case (q, dir) =>
        attempted += 1
        try Some(timeQuery(b, tracer, q, dir))
          .map(t => if (tracing) t.copy(pinsLeft = b.pinsLeft()) else t)
        catch { case e: Exception => failed += 1; b.report(q, e); None }
        finally b.quiesce()
      }
      tracer.stop()
      b.log((if (tracing) "traced" else "timed") + " pass " + times.map(t =>
        f"${t.name} ${t.construct}%.2f+${t.plan}%.2f+${t.exec}%.2f").mkString(", "))
      if (tracing) traced += ((times, tracer, b.codegenFallbacks.get - cg0))
      else untraced += times
    }
    // a query with a wrong output was wrong in every pass
    failed += wrong.size.toLong * (untraced.size + traced.size + 2)

    def passMedian(f: QueryTime => Double) =
      Stats.median(untraced.map(_.map(f).sum).toSeq)
    val passS = passMedian(_.unstolen)
    val rawPassS = passMedian(_.total)
    val raw = Seq("raw_setup_s" -> setup.wall, "raw_pass_s" -> rawPassS)
    val metrics =
      if (!b.trace) Seq("setup_s" -> setup.unstolen, "pass_s" -> passS)
      else {
        val (times, tracer, fallbacks) = traced.head
        layerMetrics(times, tracer, fallbacks, Stats.median(
          traced.map(_._1.map(_.total).sum).toSeq) - rawPassS) ++ raw
      }
    val groupPass = Groups.map { g =>
      s"${g.name}_pass_s" -> passMedian(t =>
        if (g.queries.contains(t.name)) t.unstolen else 0.0)
    }
    val summary = Seq(
      "setup_s" -> setup.unstolen, "pass_s" -> passS) ++ groupPass ++ Seq(
      "query_p50_s" -> Stats.median(untraced.flatten.map(_.unstolen).toSeq),
      "passes" -> untraced.size.toDouble) ++ raw
    Result(attempted, failed, metrics, summary, traced.headOption.map(_._2))
  }

  private def timeQuery(b: Bench, tr: Tracer, q: String, dir: String): QueryTime =
    tr.span(s"query:$q") {
      val k0 = Bench.cpuTicks()
      val c0 = System.nanoTime()
      if (tr.enabled) tr.sampler.arm()
      val df: DataFrame =
        try tr.span("construct")(SparkEntry.queries(q)(b.spark, dir))
        finally tr.sampler.disarm()
      val c1 = System.nanoTime()
      val plan = tr.spanPlanned("exec")(
        df.write.mode("overwrite").format("noop").save())
      val c2 = System.nanoTime()
      QueryTime(q, (c1 - c0) / 1e9, plan, (c2 - c1) / 1e9 - plan,
        Bench.stealShare(k0, Bench.cpuTicks()))
    }

  /** Per-layer metrics of one traced pass; every layer the workload
    * does not exercise reads 0.
    */
  private def layerMetrics(times: Seq[QueryTime], tr: Tracer,
      fallbacks: Long, overheadS: Double): Seq[(String, Double)] = {
    def counts(layer: String): Seq[(String, Double)] = {
      val ss = tr.spans.filter(_.name == layer)
      Seq("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes").map(k => s"$layer.$k" -> ss.map(_.counts.toMap(k)).sum)
    }
    val construct = times.map(_.construct).sum
    val plan = times.map(_.plan).sum
    val exec = times.map(_.exec).sum
    val famJobs = tr.spans.filter(_.name == "construct")
      .flatMap(_.counts.families).groupMapReduce(_._1)(_._2.toDouble)(_ + _)
    val famWall = tr.sampler.seconds
    val cons = counts("construct").toMap
    val ex = counts("exec").toMap
    Seq(
      "construct.wall_s" -> construct,
      "construct.jobs" -> cons("construct.jobs"),
      "construct.stages" -> cons("construct.stages"),
      "construct.tasks" -> cons("construct.tasks"),
      "construct.executor_run_s" -> cons("construct.executor_run_s"),
      "construct.share" -> construct / (construct + plan + exec)) ++
      Tracer.Families.flatMap(f => Seq(
        s"construct.$f.wall_s" -> famWall.getOrElse(f, 0.0),
        s"construct.$f.jobs" -> famJobs.getOrElse(f, 0.0))) ++
      Seq("plan.wall_s" -> plan, "exec.wall_s" -> exec) ++
      counts("exec").filterNot(_._1 == "exec.wall_s") ++
      Seq(
        "exec.core_busy" -> ex("exec.executor_run_s") / (Bench.Cores * exec),
        "exec.codegen_fallbacks" -> fallbacks.toDouble,
        "session.pins_left" -> times.map(_.pinsLeft).sum.toDouble,
        "trace.overhead_s" -> overheadS)
  }
}
