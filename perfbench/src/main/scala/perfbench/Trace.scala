package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counts that land on one span. */
final class Counts {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runNs = new AtomicLong
  val cpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  /** Jobs per operator family, from the job's call site. */
  val familyJobs = new ConcurrentHashMap[String, AtomicLong]()

  def families: Map[String, Long] =
    familyJobs.asScala.map { case (k, v) => k -> v.get }.toMap

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "executor_run_s" -> runNs.get / 1e9,
    "executor_cpu_s" -> cpuNs.get / 1e9,
    "input_bytes" -> inputBytes.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble)
}

/** One recorded interval: `parent` is the enclosing span's id (0 for a
  * root), `trace` groups the spans of one query or pipeline cycle.
  */
final case class Span(
    id: Long, name: String, parent: Long, trace: Long,
    startNs: Long, var endNs: Long, counts: Counts)

/** In-memory span recorder for the traced run. Spans are recorded by
  * the benchmark around its own calls into each layer; Spark work is
  * attributed to the innermost open span through a local property
  * that the listener reads back from every job-start event.
  *
  * With `enabled = false` every method is a pass-through, so the
  * untraced run executes the same code path without the listeners.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  /** Jobs that ran inside a streaming micro-batch, by batch id. */
  val batchJobs = new ConcurrentHashMap[(Long, Long), AtomicLong]()
  val sampler = new StackSampler(Thread.currentThread())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.counts.jobs.incrementAndGet()
          e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
          // a job submitted from a pool thread (adaptive query stages,
          // broadcasts) has no engine frame in its call site; it belongs
          // to the module the driver thread is blocked in
          val fam = e.stageInfos.sortBy(_.stageId).lastOption
            .flatMap(si => Tracer.family(si.details))
            .getOrElse(sampler.current)
          s.counts.familyJobs
            .computeIfAbsent(fam, _ => new AtomicLong).incrementAndGet()
          props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
            .foreach(b => batchJobs.computeIfAbsent((s.id, b.toLong),
              _ => new AtomicLong).incrementAndGet())
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId))
        .foreach(_.counts.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counts
        c.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          c.runNs.addAndGet(m.executorRunTime * 1000000L)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Catalyst phases (analysis, optimization, planning) of the SQL
    * execution the session finished last, as (start, end) epoch ms:
    * the planning a write did itself, read from its own
    * `QueryExecution` rather than by planning the frame again.
    */
  private val lastPhases = new AtomicReference[Seq[(Long, Long)]](Nil)
  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      lastPhases.set(qe.tracker.phases.values
        .map(p => (p.startTimeMs, p.endTimeMs)).toSeq)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      lastPhases.set(Nil)
  }
  if (enabled) spark.listenerManager.register(planning)

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  def open(name: String): Span = {
    val parent = stack.headOption
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0L),
      parent.map(_.trace).getOrElse(nextId), System.nanoTime(), 0L,
      new Counts)
    nextId += 1
    byId.put(s.id, s)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    org.apache.spark.GraftCoreShims.drainListenerBus(sc)
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_ ne s).drop(1)
    sc.setLocalProperty(Tracer.SpanKey,
      stack.headOption.map(_.id.toString).orNull)
  }

  /** A finished child span reconstructed after the fact (streaming
    * triggers, whose timing comes from `StreamingQueryProgress`).
    */
  def record(name: String, parent: Span, startNs: Long, endNs: Long): Span = {
    val s = Span(nextId, name, parent.id, parent.trace, startNs, endNs,
      new Counts)
    nextId += 1
    spans += s
    s
  }

  /** Runs `body`, an action that plans its frame itself, inside a
    * span named `name`, and records that planning as `plan` spans
    * under it, one per Catalyst phase. Returns the planning seconds.
    */
  def spanPlanned(name: String)(body: => Unit): Double =
    if (!enabled) { body; 0.0 }
    else {
      org.apache.spark.GraftCoreShims.drainListenerBus(sc)
      lastPhases.set(Nil)
      val s = open(name)
      try body finally close(s)
      val epochToNano = System.nanoTime() - Bench.epochNs()
      lastPhases.get.map { case (a, b) =>
        record("plan", s, a * 1000000L + epochToNano, b * 1000000L + epochToNano)
        (b - a) / 1e3
      }.sum
    }

  def stop(): Unit = if (enabled) {
    sampler.stop()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planning)
  }

  /** Self time per span name: duration minus the covered part of
    * its children's intervals.
    */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Tracer.union(
          kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def spansJson: String = spans.map { s =>
    val extra = s.counts.toMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""trace":${s.trace},"start_ns":${s.startNs},"end_ns":${s.endNs},$extra}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The operator families the construction layer is split into. */
  val Families: Seq[String] = Seq("ops", "dedup", "text", "similarity",
    "multimodal")

  /** Family of the innermost engine frame in a call-site stack text. */
  def family(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
      .map(familyOfClass)

  def familyOfClass(cls: String): String =
    Families.find(f => cls.startsWith(s"graft.$f.")).getOrElse("other")

  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + curE - curS
  }
}

/** Samples one thread's stack at a fixed interval while armed and
  * charges each sample to the operator family of the innermost engine
  * frame — the driver time each module's own code held the thread,
  * measured without touching the engine.
  */
final class StackSampler(target: Thread, intervalMs: Long = 5) {
  @volatile private var armed = false
  /** Family of the latest sample. */
  @volatile var current = "other"
  @volatile private var running = true
  private val nanos = new ConcurrentHashMap[String, AtomicLong]()
  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(intervalMs)
      val now = System.nanoTime()
      if (armed) {
        val fam = target.getStackTrace.iterator.map(_.getClassName)
          .find(_.startsWith("graft.")).map(Tracer.familyOfClass)
          .getOrElse("other")
        current = fam
        nanos.computeIfAbsent(fam, _ => new AtomicLong).addAndGet(now - last)
      }
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)

  def arm(): Unit = {
    if (!thread.isAlive) thread.start()
    armed = true
  }
  def disarm(): Unit = armed = false
  def seconds: Map[String, Double] =
    nanos.asScala.map { case (k, v) => k -> v.get / 1e9 }.toMap
  def stop(): Unit = { running = false; if (thread.isAlive) thread.join() }
}
