package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one-time on-disk fixtures behind the round-trip, store, index
  * and MV queries: once `warmFixtures` has run, building a
  * fixture-backed query must find its fixture ready and write none —
  * otherwise the first timed sample of that query pays for the build.
  */
class FixtureSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.01"

  /** Every file under this sf dir's fixture directories
    * (`<tmpdir>/graft_<kind>_<hash of the sf dir>`) with its
    * modification time: a rewrite replaces files or touches them.
    */
  private def fixtureFiles(): Map[Path, Long] = {
    val suffix = "_" + Integer.toHexString(dir.hashCode)
    def paths(s: java.util.stream.Stream[Path]): List[Path] =
      try s.iterator().asScala.toList finally s.close()
    paths(Files.list(Paths.get(System.getProperty("java.io.tmpdir"))))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && n.endsWith(suffix) && Files.isDirectory(p)
      }
      .flatMap(p => paths(Files.walk(p)))
      .filter(Files.isRegularFile(_))
      .map(p => p -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("after warmFixtures, building a fixture-backed query rewrites no fixture") {
    SparkEntry.warmFixtures(spark, dir)
    val fixtureBacked = Seq(
      "q_csv_scan", "q_store_roundtrip", "q_snapshot_diff",
      "q_orc_roundtrip", "q_jsonl_roundtrip", "q_jsonl_gz_roundtrip",
      "q_zorder_roundtrip", "q_rm3_search", "q_bm25_search_indexed",
      "q_mv_rewrite")
    fixtureBacked.foreach { q =>
      val before = fixtureFiles()
      assert(before.nonEmpty)
      SparkEntry.queries(q)(spark, dir)
      val after = fixtureFiles()
      val changed = (after.toSet -- before.toSet ++ (before.toSet -- after.toSet))
        .map(_._1)
      if (changed.nonEmpty)
        fail(s"$q rewrote ${changed.size} fixture files, e.g. ${changed.take(3)}")
    }
    spark.catalog.clearCache()
    Bench.dropDeadPins(spark)
  }
}
