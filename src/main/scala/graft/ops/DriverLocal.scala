package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The bounded driver-local path of the iterative operators
  * ([[Graph.pageRankInt]], [[graft.similarity.KMeans.train]],
  * [[graft.similarity.Ivf.train]],
  * [[graft.dedup.Dedup.nearDupClusters]]). On inputs this small one
  * driver thread beats a loop of scheduled jobs (McSherry et al.,
  * "Scalability! But at what COST?", HotOS 2015): each distributed
  * iteration pays job launch and planning for milliseconds of
  * arithmetic. Each operator takes its bound as a default argument;
  * passing 0 forces its distributed path, which is how the specs pin
  * the two paths to the same output.
  */
object DriverLocal {

  /** ONE `limit(bound + 1)` collect decides the path: `Some(rows)`
    * when `df` holds at most `bound` rows (the caller iterates on the
    * driver), else `None` (the caller runs its distributed loop).
    * `bound = 0` returns `None` without running a job. The collect
    * holds up to `bound + 1` boxed rows on the driver, so the bound
    * is a driver memory budget; lower it on small drivers.
    */
  def collect(df: DataFrame, bound: Long): Option[Array[Row]] = {
    require(bound >= 0 && bound < Int.MaxValue,
      s"driver bound must be in [0, Int.MaxValue), got $bound")
    if (bound == 0) None
    else Some(df.limit(bound.toInt + 1).collect()).filter(_.length <= bound)
  }
}
