package graft

import org.apache.spark.sql.GraftSqlShims

/** Every registered query, built and collected at sf0.001: each one
  * runs, and none leaves an entry in the session's CacheManager. An
  * operator that shares an intermediate between plan branches
  * materializes it once (`graft.ops.Pins.materializeOnce`), whose
  * blocks are released along with the frame that reads them; a lazy
  * `persist` left behind would stay cached for the life of the
  * session.
  */
class RegistrySpec extends SparkTestBase {

  test("every registered query collects at sf0.001 and leaves no " +
      "CacheManager entry") {
    spark.catalog.clearCache()
    val failures = SparkEntry.registry.flatMap { q =>
      val outcome =
        try {
          q.build(spark, sfDir).collect()
          if (GraftSqlShims.cacheIsEmpty(spark)) None
          else Some(s"${q.name}: left a CacheManager entry")
        } catch { case e: Exception =>
          Some(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      // keep each query's verdict its own, and its pins off the next
      spark.catalog.clearCache()
      Bench.dropDeadPins(spark)
      outcome
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${SparkEntry.registry.size} queries failed:\n" +
        failures.mkString("\n"))
  }
}
