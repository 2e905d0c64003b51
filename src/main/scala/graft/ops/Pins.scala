package graft.ops

import org.apache.spark.sql.DataFrame

/** How an operator pins a frame that several branches of its plan
  * read: an eager `localCheckpoint`, released along with the frame
  * that reads it (or earlier through a release handle), never a
  * CacheManager entry, which would outlive its result for the life of
  * the session. A lost executor fails the query that reads the pin.
  */
object Pins {

  /** Materialize a frame ONCE: `localCheckpoint()` unless the plan
    * already sits on materialized data — a LogicalRDD (the product of
    * an earlier local/reliable checkpoint) or a LocalRelation,
    * possibly under cheap narrow ops (Project / Filter / aliasing
    * only). Callers that pre-materialize a frame consumed by several
    * operators (the ingest gates feed one checkpointed frame through
    * [[graft.streaming.ImageIngest.gateBatch]], which feeds
    * [[graft.multimodal.Phash.neardupPairs]]) must not stack a second
    * and third eager block copy per call — each lingers until GC.
    * Re-running a projection or filter over an already-pinned RDD per
    * consumer is strictly cheaper than another full copy; anything
    * wider (a join, an aggregate, a decode pipeline) still
    * checkpoints — and so does any NONDETERMINISTIC narrow op: the
    * whole point of pinning is that every consumer observes the same
    * rows, which a re-run nondeterministic projection/filter over a
    * pinned RDD would break.
    */
  private[graft] def materializeOnce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def cheap(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: LocalRelation => true
      case pr: Project =>
        pr.projectList.forall(_.deterministic) && cheap(pr.child)
      case f: Filter => f.condition.deterministic && cheap(f.child)
      case a: SubqueryAlias => cheap(a.child)
      case _ => false
    }
    if (cheap(df.queryExecution.logical)) df else df.localCheckpoint()
  }

  /** Eager `localCheckpoint` plus a release handle for its pinned
    * blocks. A local checkpoint truncates lineage, so its blocks stay
    * in executor storage until the RDD is GC'd — one leaked frame per
    * cut (history/ADVICE.md), and in the iterative loops of [[Graph]]
    * one leaked frame PER ROUND, which compounds across a long-lived
    * session (r17, history/kcore_probe_10x.json: the per-round-cut
    * peel degraded from 4.8 s to 15.4-15.8 s across three samples in
    * one JVM as dead cuts piled up). The handle releases the blocks
    * explicitly; calling it is safe exactly when nothing will read the
    * frame again — a released local checkpoint cannot be recomputed
    * by design, so the discipline is strictly
    * release-after-supersession.
    */
  private[ops] def cutWithHandle(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint()
    val release: () => Unit = cp.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        () => { lr.rdd.unpersist(false); () }
      case _ => () => ()
    }
    (cp, release)
  }
}
