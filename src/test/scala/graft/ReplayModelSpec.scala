package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.PosOps
import graft.streaming.Ingest

/** Model-based randomized tests (seeded — fully reproducible): the
  * set-oriented operators must equal a plain-Scala sequential model of
  * the reference consumer for arbitrary event interleavings, and the
  * relational upsert/dedup must satisfy their algebraic invariants.
  */
class ReplayModelSpec extends SparkTestBase {
  import spark.implicits._

  /** The reference consumer, modeled literally: a mutable map mutated
    * one event at a time in seq order (kafka_consumer.py:96–195 —
    * append / masked in-place edit (no-op when absent) / keyed delete).
    */
  private def modelReplay(
      current: Map[Int, String],
      events: Seq[(String, Long, Int, String)]): Map[Int, String] = {
    val state = mutable.Map.from(current)
    events.sortBy(e => (e._2, e._1)).foreach {
      case ("add", _, k, v)    => state(k) = v
      case ("edit", _, k, v)   => if (state.contains(k)) state(k) = v
      case ("remove", _, k, _) => state.remove(k)
      case other => fail(s"unexpected event $other")
    }
    state.toMap
  }

  test("applyEvents equals the sequential model on 30 random interleavings") {
    val rnd = new Random(20260812L)
    (1 to 30).foreach { round =>
      val keys = 1 to (2 + rnd.nextInt(6))
      val current = keys.filter(_ => rnd.nextBoolean())
        .map(k => k -> s"cur$k").toMap
      val kinds = Seq("add", "edit", "remove")
      val events = (1 to (1 + rnd.nextInt(12))).map { i =>
        (kinds(rnd.nextInt(3)), i.toLong,
          1 + rnd.nextInt(keys.last + 2), s"v$round-$i")
      }
      val expected = modelReplay(current, events)
      val got = Ingest.applyEvents(
        current.toSeq.toDF("id", "val"),
        events.toDF("kind", "seq", "id", "val"),
        "id").as[(Int, String)].collect().toMap
      assert(got == expected,
        s"round $round diverged\n events=$events\n current=$current")
    }
  }

  /** The same consumer over a `current` table that may hold duplicate
    * and NULL keys, as a row multiset: duplicates of a key stay until
    * an effective event of that key collapses them, and null-key
    * current rows never meet an event (null never equals a key), while
    * null-key events replay among themselves against an absent key.
    */
  private def modelReplayRows(
      current: Seq[(Option[Int], String)],
      events: Seq[(String, Long, Option[Int], String)])
      : Map[(Option[Int], String), Int] = {
    val state = mutable.LinkedHashMap.empty[Option[Int], Seq[String]]
    current.filter(_._1.isDefined).foreach { case (k, v) =>
      state(k) = state.getOrElse(k, Nil) :+ v
    }
    events.sortBy(e => (e._2, e._1)).foreach {
      case ("add", _, k, v)    => state(k) = Seq(v)
      case ("edit", _, k, v)   => if (state.contains(k)) state(k) = Seq(v)
      case ("remove", _, k, _) => state.remove(k)
      case other => fail(s"unexpected event $other")
    }
    (current.filter(_._1.isEmpty) ++
      state.toSeq.flatMap { case (k, vs) => vs.map(k -> _) })
      .groupMapReduce(identity)(_ => 1)(_ + _)
  }

  test("applyEvents equals the sequential model when current keys are " +
    "edited, removed and re-added, with duplicate and null keys") {
    val rnd = new Random(20261017L)
    val kinds = Seq("add", "edit", "remove")
    (1 to 40).foreach { round =>
      val keys = (1 to (2 + rnd.nextInt(5))).map(Option(_))
      val current = keys.filter(_ => rnd.nextInt(3) > 0).flatMap { k =>
        Seq.fill(if (rnd.nextInt(4) == 0) 2 else 1)(k -> s"cur${k.get}")
      } ++ Seq.fill(rnd.nextInt(3))(Option.empty[Int] -> "curNull")
      val curKeys = current.flatMap(_._1).distinct
      // most events hit a key that starts in `current`, so keys are
      // edited, removed and re-added; a few hit fresh or null keys
      val events = (1 to (1 + rnd.nextInt(14))).map { i =>
        val k = rnd.nextInt(10) match {
          case 0 => None
          case 1 | 2 => Some(keys.size + 1 + rnd.nextInt(2))
          case _ if curKeys.nonEmpty => Some(curKeys(rnd.nextInt(curKeys.size)))
          case _ => keys(rnd.nextInt(keys.size))
        }
        (kinds(rnd.nextInt(3)), i.toLong, k, s"v$round-$i")
      }
      val expected = modelReplayRows(current, events)
      val got = Ingest.applyEvents(
        current.toDF("id", "val"),
        events.toDF("kind", "seq", "id", "val"),
        "id").as[(Option[Int], String)].collect().toSeq
        .groupMapReduce(identity)(_ => 1)(_ + _)
      assert(got == expected,
        s"round $round diverged\n events=$events\n current=$current")
    }
  }

  test("appendInserts equals applyEvents for inserts of fresh keys, over " +
    "current tables with duplicate and null keys") {
    val rnd = new Random(20261018L)
    (1 to 30).foreach { round =>
      val keys = (1 to (1 + rnd.nextInt(6))).filter(_ => rnd.nextBoolean())
      val current = keys.flatMap { k =>
        Seq.fill(1 + rnd.nextInt(2))(Option(k) -> s"cur$k")
      } ++ Seq.fill(rnd.nextInt(3))(Option.empty[Int] -> "curNull")
      // engine-assigned ids: above every current key, dense, in seq order
      val inserts = (1 to rnd.nextInt(8)).map { i =>
        ("sale", i.toLong, Option(6 + i), s"v$round-$i")
      }
      def multiset(df: org.apache.spark.sql.DataFrame) =
        df.as[(Option[Int], String)].collect().toSeq
          .groupMapReduce(identity)(_ => 1)(_ + _)
      val cur = current.toDF("id", "val")
      val evs = inserts.toDF("kind", "seq", "id", "val")
      val got = multiset(Ingest.appendInserts(cur, evs))
      assert(got == multiset(Ingest.applyEvents(cur, evs, "id")),
        s"round $round diverged\n inserts=$inserts\n current=$current")
      assert(got.values.sum == current.size + inserts.size)
    }
  }

  test("upsert invariants: key union, updates win, idempotent") {
    val rnd = new Random(7L)
    (1 to 10).foreach { _ =>
      val base = (1 to 20).filter(_ => rnd.nextBoolean())
        .map(k => k -> s"b$k").toDF("id", "val")
      val updates = (1 to 20).filter(_ => rnd.nextBoolean())
        .map(k => k -> s"u$k").toDF("id", "val")
      val once = PosOps.upsert(base, updates, "id")
        .as[(Int, String)].collect().toMap
      val baseKeys = base.as[(Int, String)].collect().map(_._1).toSet
      val upMap = updates.as[(Int, String)].collect().toMap
      assert(once.keySet == baseKeys ++ upMap.keySet)
      upMap.foreach { case (k, v) => assert(once(k) == v, "update must win") }
      val twice = PosOps.upsert(once.toSeq.toDF("id", "val"), updates, "id")
        .as[(Int, String)].collect().toMap
      assert(twice == once, "re-applying the same updates is a no-op")
    }
  }

  test("exactDedup invariants: one group per distinct text, idempotent counts") {
    val rnd = new Random(11L)
    val docs = (1L to 60L).map(i => i -> s"text${rnd.nextInt(10)}").toDF("doc_id", "text")
    val out = graft.dedup.Dedup.exactDedup(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    val texts = docs.as[(Long, String)].collect()
    assert(out.length == texts.map(_._2).distinct.length)
    assert(out.map(_._3).sum == texts.length, "group sizes partition the corpus")
    // keep_id is the minimum doc_id of its text group
    val byText = texts.groupBy(_._2)
    val keepIds = out.map(_._2).toSet
    assert(byText.values.forall(g => keepIds.contains(g.map(_._1).min)))
  }
}
