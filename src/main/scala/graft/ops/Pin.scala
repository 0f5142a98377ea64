package graft.ops

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one place an intermediate is materialised and released.
  *
  * A pin is either a CUT — an eager local checkpoint: the plan becomes
  * a scan of checkpointed blocks and the lineage is gone, so a registry
  * append that refreshes a table cannot reach back through it — or a
  * CACHE (`MEMORY_AND_DISK`, lazy unless `eager`), which keeps its
  * lineage and recomputes after release. Every pin is released by its
  * scope:
  *
  *  - action scope, [[untilUsed]]: after the first action whose plan
  *    contains the operator's result;
  *  - call scope: [[release]] in a `finally`, when the operator that
  *    made the pin returns;
  *  - loop scope, [[next]]: round n+1 is materialised before round n
  *    is released;
  *  - session scope: `graft.queries.FitStore`, which releases the pins
  *    of shared fits when the session's context ends.
  *
  * A cut is a local checkpoint on the executors' block managers: it is
  * lost with its executor, and reading a released cut fails instead of
  * recomputing. `Dataset.unpersist` does not free a cut — it only drops
  * cache entries, and a cut is an RDD scan, not a cache entry — so
  * [[release]] unpersists the checkpointed RDD under the plan.
  *
  * Spark keeps one cache entry per plan result, so two caches of
  * equivalent plans share an entry. Each [[cache]] call is one owner of
  * its entry, and [[release]] frees the entry only when its last owner
  * releases it.
  */
object Pin {

  /** A cut: `df` checkpointed locally and eagerly (one job). */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** A cache of `df`; `eager` fills it now with one `count` (also when
    * the entry already exists and this call only joins its owners).
    */
  def cache(df: DataFrame, eager: Boolean = false): DataFrame = {
    owners.synchronized {
      if (entryOf(df).isEmpty) df.persist(StorageLevel.MEMORY_AND_DISK)
      entryOf(df).foreach(e => owners.put(e, owners.getOrDefault(e, 0) + 1))
    }
    if (eager) df.count()
    df
  }

  /** A lazy cache of an RDD (the RDD-native loops in `graph.TextRank`). */
  def cache[T](rdd: RDD[T]): RDD[T] = rdd.persist(StorageLevel.MEMORY_AND_DISK)

  /** Release now — a cache's blocks, or a cut's checkpointed RDD. A
    * projection or filter of a cut releases that cut (the one input
    * such a view reads); anything else that is not a pin is left alone.
    */
  def release(pins: Dataset[_]*): Unit = pins.foreach { ds =>
    val cached = owners.synchronized {
      entryOf(ds).map { e =>
        val n = owners.getOrDefault(e, 1)
        if (n > 1) owners.put(e, n - 1)
        else { owners.remove(e); ds.unpersist(blocking = false) }
      }
    }
    if (cached.isEmpty)
      cutOf(ds.queryExecution.logical).foreach(_.unpersist(blocking = false))
  }

  /** Release RDD caches now. */
  def release(pins: RDD[_]*)(implicit d: DummyImplicit): Unit =
    pins.foreach(_.unpersist(blocking = false))

  /** Owner count per cache entry, keyed by the entry's plan instance
    * (kept when Spark rebuilds the entry's data after a refresh).
    */
  private val owners = new java.util.IdentityHashMap[LogicalPlan, Int]

  private def entryOf(ds: Dataset[_]): Option[LogicalPlan] =
    ds.sparkSession.asInstanceOf[classic.SparkSession].sharedState
      .cacheManager.lookupCachedData(ds.asInstanceOf[classic.Dataset[_]])
      .map(_.plan)

  private def cutOf(plan: LogicalPlan): Option[RDD[_]] = plan match {
    case r: LogicalRDD => Some(r.rdd)
    case p: Project => cutOf(p.child)
    case f: Filter => cutOf(f.child)
    case _ => None
  }

  /** Action scope: return `result` unchanged and release `pins` after
    * the first action whose analyzed plan contains `result` (the
    * caller's count, write or collect over any further transforms),
    * success or failure.
    *
    * For intermediates read by several branches of ONE result plan
    * (bm25 tf, LSH signatures, histogram ranks, model tables): released
    * at return they would be gone before the multi-branch read, and
    * pinning the result instead costs a job and holds the (often much
    * larger) result. A one-shot [[QueryExecutionListener]] does the
    * release; it costs O(plan nodes) per action while registered. A
    * result that never runs keeps its pins, and a second action over a
    * result whose pin is a cut fails, so use this only for results an
    * action consumes once.
    */
  def untilUsed(result: DataFrame, pins: Dataset[_]*): DataFrame = {
    val spark = result.sparkSession
    val target = result.queryExecution.analyzed
    val listener = new QueryExecutionListener {
      private val fired = new AtomicBoolean(false)
      private def consumed(qe: QueryExecution): Boolean =
        try qe.analyzed.exists(_.sameResult(target))
        catch { case _: Throwable => false }
      private def done(qe: QueryExecution): Unit =
        if (consumed(qe) && fired.compareAndSet(false, true)) {
          release(pins: _*)
          spark.listenerManager.unregister(this)
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = done(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = done(qe)
    }
    spark.listenerManager.register(listener)
    result
  }

  /** Loop scope: `round` builds round n+1 as a materialised pin (a cut,
    * or an eager cache), then round n, `prev`, is released. Every
    * round's lineage starts at the previous round's pin, so at most two
    * rounds are held at once and none is released before it is read.
    */
  def next(prev: DataFrame)(round: => DataFrame): DataFrame = {
    val n = round
    release(prev)
    n
  }
}
