package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftCoreShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Stage-level decomposition of one declared query's wall time — the
  * measurement companion to Bench (guide §1: find WHERE the time goes
  * before touching anything). Runs each named query through the bench
  * methodology (warm fixtures, noop sink), then prints one line per
  * completed stage: stage id, wall ms, summed executor-run ms, task
  * count, shuffle read/write bytes, and the stage's callsite — enough
  * to attribute a multi-second query to its dominant operator without
  * a live UI.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> <query> [query...]
  */
object QueryProfile {

  private final case class StageRow(
      id: Int, wallMs: Long, execMs: Long, cpuMs: Long, tasks: Int,
      shRead: Long, shWrite: Long, in: Long, site: String)

  private final class StageListener extends SparkListener {
    val rows = new ConcurrentHashMap[Int, StageRow]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val wall = (for {a <- s.completionTime; b <- s.submissionTime}
        yield a - b).getOrElse(-1L)
      val m = s.taskMetrics
      rows.put(s.stageId, StageRow(
        s.stageId, wall, m.executorRunTime, m.executorCpuTime / 1000000L,
        s.numTasks, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        s.details.linesIterator.take(2).mkString(" <- ").take(200)))
    }
    def drainAndReport(spark: SparkSession): Unit = {
      GraftCoreShims.drainListenerBus(spark.sparkContext)
      val all = rows.values().asScala.toSeq.sortBy(-_.execMs)
      val totalExec = all.map(_.execMs).sum
      println(f"-- stages: ${all.size}, summed executor ms: $totalExec")
      all.take(30).foreach { r =>
        println(f"stage=${r.id}%5d wall=${r.wallMs}%6d exec=${r.execMs}%7d " +
          f"cpu=${r.cpuMs}%7d tasks=${r.tasks}%4d " +
          f"shR=${r.shRead / 1024}%8dK shW=${r.shWrite / 1024}%8dK " +
          f"in=${r.in / 1024}%8dK  ${r.site}")
      }
      rows.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryProfile <sfDir> <query> [query...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark: SparkSession = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.warmFixtures(spark, dir)
    // one untimed warm pass per query: codegen + page cache, the Bench
    // discipline — the profile should show steady-state stage costs
    names.foreach { n =>
      SparkEntry.queries(n)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
    }
    graft.Bench.dropDeadPins(spark)
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      spark.sparkContext.setJobDescription(s"profile:$n")
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"== $n%s  wall=${dt}%.2fs")
      listener.drainAndReport(spark)
      spark.catalog.clearCache()
      System.gc()
      // dead localCheckpoint pins survive clearCache (RDD-level, not
      // SQL-cache) — drop them so one query's pins don't distort the
      // next profile (the Bench between-samples discipline)
      graft.Bench.dropDeadPins(spark)
    }
    spark.stop()
  }
}
