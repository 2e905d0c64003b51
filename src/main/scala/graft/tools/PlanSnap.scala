package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Dump `.explain("formatted")` of named SparkEntry queries to
  * `<outDir>/<query>_<tag>.txt` — the optimization rounds' evidence
  * files (plans/rNN/<query>_before.txt / _after.txt). Uses the bench
  * session shape (local[SPARK_GRAFT_CPUS], matching shuffle
  * partitions) so the captured plans are the benched plans. With no
  * query names, every registered query is dumped.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <tag> [query...]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanSnap <sfDir> <outDir> <tag> [query...]")
    val Array(dir, outDir, tag) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession =
      GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.warmFixtures(spark, dir)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${q}_$tag.txt"), txt)
      println(s"wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
