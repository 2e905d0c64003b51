package graft

import graft.tools.PlanSnap

/** PlanSnap dumps identify a plan, not the JVM history behind it: a
  * query snapshotted again — after other queries, after its own
  * localCheckpoint pins — gives byte-identical text, so a refactor's
  * plan identity is a plain diff of two dumps.
  */
class PlanSnapSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.01"

  private def resource(name: String): String = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/plansnap/$name"), "UTF-8")
    try src.mkString finally src.close()
  }

  test("q_count_distinct snapshots identically alone and after " +
      "q_point_lookup") {
    val alone = PlanSnap.snapshot(spark, dir, "q_count_distinct")
    PlanSnap.snapshot(spark, dir, "q_point_lookup")
    assert(PlanSnap.snapshot(spark, dir, "q_count_distinct") == alone)
  }

  test("a localCheckpoint-backed query snapshots identically twice") {
    val first = PlanSnap.snapshot(spark, dir, "q_kcore")
    assert(first.contains("at localCheckpoint"))
    assert(PlanSnap.snapshot(spark, dir, "q_kcore") == first)
  }

  test("a distinct-aggregate Expand whose group order followed the id " +
      "counter normalizes to one text") {
    // two raw dumps of q_count_distinct from one commit: the second
    // JVM snapshotted q_point_lookup first, and its Expand lists
    // (l_partkey, l_suppkey) where the first lists (l_suppkey, l_partkey)
    val (a, b) = (resource("q_count_distinct_1.txt"),
      resource("q_count_distinct_2.txt"))
    assert(a != b)
    val na = PlanSnap.normalize(a)
    assert(na == PlanSnap.normalize(b))
    assert(na.contains("Arguments: [[l_partkey#1L, null, 1], " +
      "[null, l_suppkey#2L, 2]], [l_partkey#3L, l_suppkey#4L, gid#5]"), na)
    assert(na.contains(
      "partial_count(l_suppkey#4L) FILTER (WHERE (gid#5 = 2))"), na)
    assert(!na.matches("(?s).*#\\d{3,}.*"), "unnormalized expression id left")
  }
}
