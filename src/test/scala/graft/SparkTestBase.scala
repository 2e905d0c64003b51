package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; UTC + small shuffle partitions
  * to mirror the driver's Verify/Bench configuration.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the deployment registration path — specs call the functions via
    // spark.sql without a register() step
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .getOrCreate()

  def sfDir: String = "/root/testdata/sf0.001"

  /** Shared golden-fixture compare for deterministic no-oracle queries
    * with mixed-type output (BpeSpec, QualityModelSpec; the numeric
    * CSV goldens predate this and live in GoldenSpec): the query's
    * full sf0.01 result set against a committed TSV resource. Cells
    * parse as doubles when possible — double repr round-trips, so the
    * comparison is repr-independent — and compare as strings
    * otherwise. Tokens are `\S+` runs, so tab never occurs in a cell.
    */
  def checkGoldenTsv(name: String): Unit = {
    def cell(s: String): Any =
      try java.lang.Double.valueOf(s.toDouble)
      catch { case _: NumberFormatException => s }
    // multiset compare, not Set: a regression that DUPLICATES an
    // already-golden row (e.g. a join fan-out) must fail, not vanish
    // into set semantics
    def multiset(rows: Iterator[Seq[Any]]): Map[Seq[Any], Int] =
      rows.foldLeft(Map.empty[Seq[Any], Int]) { (m, r) =>
        m.updated(r, m.getOrElse(r, 0) + 1)
      }
    val in = getClass.getResourceAsStream(s"/golden/${name}_sf0.01.tsv")
    assert(in != null, s"missing golden fixture for $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val (want, wantRows) =
      try {
        val rows = src.getLines().drop(1)
          .map(_.split('\t').map(cell).toSeq).toSeq
        (multiset(rows.iterator), rows.size)
      } finally src.close()
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
    val gotRows = df.collect()
      .map(r => (0 until r.length)
        .map(i => cell(String.valueOf(r.get(i)))): Seq[Any])
    val got = multiset(gotRows.iterator)
    assert(gotRows.length == wantRows,
      s"$name row count drifted from golden fixture: " +
        s"${gotRows.length} vs $wantRows")
    assert(got == want,
      s"$name drifted from golden fixture: " +
        s"missing=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)} " +
        s"countDrift=${
          (want.keySet & got.keySet).filter(k => want(k) != got(k)).take(3)
        } (${gotRows.length} vs $wantRows rows)")
    spark.catalog.clearCache()
  }

  /** The Spark jobs `body` launches, recorded by a listener as their
    * final stage's call site and operators: their number is a
    * load-independent cost counter, unlike wall time.
    */
  def jobsOf(body: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.lastOption.fold("?") { st =>
          st.rddInfos.flatMap(_.scope.map(_.name)).distinct
            .mkString(s"${st.name} [", ",", "]")
        })
    }
    org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)
      sites.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
