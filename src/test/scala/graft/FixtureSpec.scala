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

  /** Every file under a directory, with its size: the state a reader
    * of the fixture sees.
    */
  private def listing(root: Path): Set[(String, Long)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toSet
    finally walk.close()
  }

  test("a reader polling while fixtures are built sees each one absent or " +
    "complete, never half-built") {
    // a fresh name for the sf0.001 data: its fixture dirs do not exist yet
    val alias = Files.createTempDirectory("graft-sf-alias").resolve("sf")
    Files.createSymbolicLink(alias, Paths.get(sfDir))
    val d = alias.toString
    val suffix = "_" + Integer.toHexString(d.hashCode)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def fixtureDirs(): List[Path] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.toList.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && n.endsWith(suffix)
      } finally s.close()
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Path, Set[(String, Long)])]
    @volatile var building = true
    val reader = new Thread(() =>
      while (building) {
        fixtureDirs().foreach { p =>
          // a file vanishing mid-walk is a half-built fixture too
          val state =
            try listing(p)
            catch { case _: java.io.IOException | _: java.io.UncheckedIOException =>
              Set("<changed while read>" -> -1L) }
          seen.add(p -> state)
        }
        Thread.sleep(2)
      })
    reader.start()
    try SparkEntry.warmFixtures(spark, d)
    finally {
      building = false
      reader.join()
    }
    try {
      val built = fixtureDirs().map(p => p -> listing(p)).toMap
      assert(built.size == 8, s"fixtures built: ${built.keys}")
      val observed = seen.asScala.toSeq
      assert(observed.nonEmpty, "the reader saw no fixture during the build")
      observed.foreach { case (p, state) =>
        assert(state == built(p),
          s"$p was read half-built: ${(built(p) -- state).take(3)} missing, " +
            s"${(state -- built(p)).take(3)} extra")
      }
      // and the published fixtures serve their queries
      assert(SparkEntry.queries("q_bm25_search_indexed")(spark, d).count() > 0)
    } finally {
      spark.catalog.clearCache()
      Bench.dropDeadPins(spark)
      fixtureDirs().foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      org.apache.commons.io.FileUtils.deleteQuietly(alias.getParent.toFile)
    }
  }

  test("publishFixture reuses a fixture built from the same inputs and " +
    "replaces a stale one") {
    val dir = Files.createTempDirectory("graft-publish").resolve("fx")
    var builds = 0
    def build(content: String)(stage: Path): Unit = {
      builds += 1
      Files.writeString(stage.resolve("data"), content)
    }
    SparkEntry.publishFixture(dir, "a")(build("one"))
    SparkEntry.publishFixture(dir, "a")(build("two"))
    assert(builds == 1 && Files.readString(dir.resolve("data")) == "one",
      "same inputs: the fixture in place is reused")
    SparkEntry.publishFixture(dir, "b")(build("three"))
    assert(builds == 2 && Files.readString(dir.resolve("data")) == "three",
      "other inputs: the stale fixture is replaced")
    // a failed build publishes nothing and leaves no stage behind
    intercept[IllegalStateException] {
      SparkEntry.publishFixture(dir, "c")(_ => throw new IllegalStateException("boom"))
    }
    assert(Files.readString(dir.resolve("data")) == "three")
    val s = Files.list(dir.getParent)
    try assert(s.iterator().asScala.map(_.getFileName.toString).toList == List("fx"))
    finally s.close()
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParent.toFile)
  }

  test("two publishers racing on one fixture both return and leave it " +
    "complete, over no fixture and over a stale one") {
    val dir = Files.createTempDirectory("graft-race").resolve("fx")
    def race(stamp: String): Unit = {
      // both builds finish before either publisher renames
      val built = new java.util.concurrent.CountDownLatch(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val runs = Seq("a", "b").map { who =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = SparkEntry.publishFixture(dir, stamp) { stage =>
              (0 until 50).foreach(i => Files.writeString(stage.resolve(s"part-$i"), who))
              built.countDown()
              built.await()
            }
          })
        }
        runs.foreach(_.get()) // rethrows a publisher's failure
      } finally pool.shutdown()
      val parts = (0 until 50).map(i => Files.readString(dir.resolve(s"part-$i")))
      assert(parts.distinct.size == 1, "one publisher's fixture, whole")
      assert(Files.readString(dir.resolve("_inputs")) == stamp)
      val s = Files.list(dir.getParent)
      try assert(s.iterator().asScala.map(_.getFileName.toString).toList == List("fx"),
        "no stage or stale copy is left behind")
      finally s.close()
    }
    (0 until 20).foreach { i =>
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      race(s"fresh-$i")
      race(s"over-stale-$i")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(dir.getParent.toFile)
  }

  test("a fixture's input stamp follows symbolic links and changes with " +
    "the sf dir's files") {
    val tmp = Files.createTempDirectory("graft-stamp")
    val data = Files.createDirectories(tmp.resolve("data"))
    Files.writeString(data.resolve("part-0"), "a")
    // an sf dir whose table is a symbolic link, reached through a link
    val real = Files.createDirectories(tmp.resolve("real"))
    Files.createSymbolicLink(real.resolve("t.parquet"), data)
    val alias = Files.createSymbolicLink(tmp.resolve("alias"), real)
    val before = SparkEntry.inputStamp(alias.toString)
    assert(before == SparkEntry.inputStamp(real.toString))
    Files.writeString(data.resolve("part-0"), "bb")
    assert(SparkEntry.inputStamp(alias.toString) != before,
      "a changed file behind both links changes the stamp")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }
}
