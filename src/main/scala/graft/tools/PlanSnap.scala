package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, GraftSession, SparkEntry}

/** Dump `.explain("formatted")` of named SparkEntry queries to
  * `<outDir>/<query>_<tag>.txt`, normalized so that two dumps of one
  * commit diff clean and a refactor's plan identity is a plain
  * `diff -r`. Uses the bench session shape ([[GraftSession.local]]) so
  * the captured plans are the benched plans. With no query names,
  * every registered query is dumped.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <tag> [query...]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanSnap <sfDir> <outDir> <tag> [query...]")
    val Array(dir, outDir, tag) = args.take(3)
    val spark: SparkSession = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.warmFixtures(spark, dir)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      val txt = snapshot(spark, dir, q)
      Files.writeString(Paths.get(outDir, s"${q}_$tag.txt"), txt)
      println(s"wrote $outDir/${q}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  /** The normalized formatted plan of registered query `q`; frames the
    * build pinned are released afterwards.
    */
  def snapshot(spark: SparkSession, dir: String, q: String): String = {
    val txt = SparkEntry.queries(q)(spark, dir)
      .queryExecution.explainString(FormattedMode)
    Bench.dropDeadPins(spark)
    normalize(txt)
  }

  /** A formatted plan with everything that follows the JVM's history
    * rather than the plan made stable: expression ids (`#N`), lambda
    * variables (`x_N`), RDD ids and exchange `plan_id`s are numbered by
    * first appearance; RDD call sites lose their line numbers, objects
    * printed by identity (lambdas, byte arrays, codecs) their identity
    * hash, and a distinct-aggregate Expand lists its groups in
    * canonical order ([[canonicalExpand]]).
    */
  def normalize(plan: String): String =
    Seq("(#)(\\d+)", "(lambda [A-Za-z]+_)(\\d+)", "(RDD\\[)(\\d+)",
        "(plan_id=)(\\d+)")
      .foldLeft(canonicalExpand(plan)) { (s, re) =>
        val ids = scala.collection.mutable.HashMap.empty[String, Int]
        re.r.replaceAllIn(s, m => Regex.quoteReplacement(
          m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
      }
      .replaceAll("( at \\w+\\.scala):\\d+", "$1")
      .replaceAll("(?<=[\\w$])(\\$\\d+)?(/0x[0-9a-f]+)?@[0-9a-f]{1,8}\\b", "")

  private val ExpandArgs =
    "(?m)^\\(\\d+\\) Expand.*\\n.*\\nArguments: (\\[\\[.*\\]\\]), (\\[.*\\])$".r

  /** The items of a bracketed list, split at its top-level commas. */
  private def items(list: String): Seq[String] = {
    var depth = 0
    val cuts = list.indices.filter { i =>
      val (open, close) = ("([{".contains(list(i)), ")]}".contains(list(i)))
      if (open) depth += 1
      val cut = depth == 1 && (open || close || list(i) == ',')
      if (close) depth -= 1
      cut
    }
    cuts.zip(cuts.tail).map { case (a, b) => list.substring(a + 1, b).trim }
  }

  private def noIds(s: String): String = s.replaceAll("#\\d+", "")

  /** Spark's distinct-aggregate rewrite lays out its Expand — the
    * distinct-child columns and the group projections with their `gid`
    * literals — in the hash order of the groups' input attributes,
    * which follows the expression-id counter: the same query can list
    * `(l_partkey, l_suppkey)` or `(l_suppkey, l_partkey)`. Sort both by
    * their text without ids, and rewrite what reads them to match:
    * each run of the child outputs in the old order (an item may alias
    * one, as in `normalize(x#1) AS x#1`) and each `gid = n` test.
    */
  private def canonicalExpand(plan: String): String =
    ExpandArgs.findAllMatchIn(plan).foldLeft(plan) { (text, m) =>
      val out = items(m.group(2))
      val rows = items(m.group(1)).map(items)
      val g = out.indexWhere(_.matches("gid#\\d+"))
      val ok = g >= 0 &&
        rows.forall(r => r.size == out.size && r(g).matches("\\d+"))
      val (regular, distinct) = rows.partition(r => ok && r(g) == "0")
      if (!ok || distinct.size < 2) text
      else {
        val cs = (0 until g).filter(c => rows.exists(_(c) == "null"))
        val sortedCs = cs.sortBy(c => noIds(out(c)))
        val perm = out.indices.map(c =>
          if (cs.contains(c)) sortedCs(cs.indexOf(c)) else c)
        val sorted = distinct.map(r => perm.map(r))
          .sortBy(r => noIds(cs.map(r).mkString(",")))
        val gid = sorted.map(_(g))
          .zip(distinct.map(_(g)).sortBy(_.toInt)).toMap
        val args = (regular.map(r => perm.map(r)) ++
            sorted.map(r => r.updated(g, gid(r(g)))))
          .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]") +
          perm.map(out).mkString(", [", ", ", "]")
        val run = cs.map(c => s"((?:[^,\\s]+ AS )?${Regex.quote(out(c))})")
          .mkString("(?<=[\\[(]|, )", ", ", "(?=[,\\])])").r
        val runs = run.replaceAllIn(
          text.replace(m.group(0),
            m.group(0).replace(s"${m.group(1)}, ${m.group(2)}", args)),
          rm => Regex.quoteReplacement(
            sortedCs.map(c => rm.group(cs.indexOf(c) + 1)).mkString(", ")))
        s"(${Regex.quote(out(g))} = )(\\d+)".r.replaceAllIn(runs, gm =>
          Regex.quoteReplacement(
            gm.group(1) + gid.getOrElse(gm.group(2), gm.group(2))))
      }
    }
}
