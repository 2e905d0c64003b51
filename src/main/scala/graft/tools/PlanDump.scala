package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Dev utility: print the AQE-final executed plan of one SparkEntry
  * query at a given sf dir — the manual half of the PlanSpec loop
  * (write the pin after reading the real plan, not from memory).
  * Usage: runMain graft.tools.PlanDump <query> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <query> [sfDir]")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark: SparkSession = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(0))(spark, dir)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    println(if (cut >= 0) s.substring(0, cut) else s)
    spark.stop()
  }
}
