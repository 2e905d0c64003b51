package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names restrict the
    // dump to those queries (builder-side targeted runs; the driver
    // always passes exactly two args and gets the full sweep)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — a typo here would " +
        "otherwise produce an empty dump with exit code 0")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // every query is oracle-checked, so every one must pass the
        // hash-stability lint (no array cells, no unrounded high-scale
        // decimal→double) — fail the dump loudly rather than hand the
        // driver a red row
        OracleLint.enforce(name, df)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // reclaim the query's dead localCheckpoint pins synchronously so
      // a 231-query dump doesn't accumulate them (the Bench
      // between-samples discipline)
      Bench.dropDeadPins(spark)
    }
    // hard signal for the approximate queries: recall/precision vs
    // exact ground truth with asserted floors (see graft.Recall).
    // Verify stays a best-effort artifact dump — floor violations are
    // shouted, recorded in recall.json, and enforced by Recall.main /
    // RecallSpec, but never zero out the correctness artifacts.
    try if (only.isEmpty) Recall.write(spark, sfDir, s"$outDir/recall.json")
      .filter(!_.pass).foreach { m =>
        System.err.println(
          f"[verify] RECALL FLOOR VIOLATED: ${m.query} " +
            f"recall=${m.recall}%.4f < ${m.recallFloor}")
      }
    catch { case e: Throwable =>
      System.err.println(s"[verify] recall failed: ${e.getMessage}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
