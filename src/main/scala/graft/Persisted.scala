package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one lifetime rule for cached state: a persist is
  * released by the op that made it, in a `finally`, or it is registered
  * with the scope whose action consumes it.
  *
  * An op whose cache must outlive it (it returns a lazy frame that
  * reads the cache) persists through `Persisted(...)`. The entry point
  * that runs the action wraps it in [[owned]], which releases everything
  * its body registered once the action is done, also when it throws.
  * Scopes are per thread, so a body on another thread registers with
  * that thread's scope, not the caller's. Outside
  * any scope a persist lives as a plain `persist` does, until the frame
  * is unpersisted or the session ends.
  */
object Persisted {
  private val scopes =
    ThreadLocal.withInitial[List[ArrayBuffer[() => Unit]]](() => Nil)

  private def register(release: () => Unit): Unit =
    scopes.get.headOption.foreach(_ += release)

  /** `ds` persisted at MEMORY_AND_DISK, released by the innermost scope.
    * A frame that is already cached keeps its cache and its owner.
    */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      register(() => ds.unpersist(blocking = false))
    }
    ds
  }

  /** The RDD form of [[apply]]. */
  def apply[T](rdd: RDD[T]): RDD[T] = {
    if (rdd.getStorageLevel == StorageLevel.NONE) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      register(() => rdd.unpersist(blocking = false))
    }
    rdd
  }

  /** A branch point: `df`'s internal rows, computed once, copied and
    * persisted through the RDD form of [[apply]], as a frame over them.
    * The readers of the result read those rows; none of them reaches
    * back into `df`'s plan, so a filter is never pushed into its
    * projections and its upstream chain never runs a second time. A
    * frame that is already cached is returned unchanged.
    */
  def rows(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else GraftSqlBridge.fromInternalRows(df.sparkSession,
      apply(df.queryExecution.toRdd.map(_.copy())), df.schema)

  /** `df.localCheckpoint()` (eager), whose blocks the innermost scope
    * releases. Reading the result after that fails, so only a frame
    * the scope's own action consumes may come from here.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    register(() => dropCheckpoint(cp))
    cp
  }

  /** Releases now the checkpoint blocks `df` reads: an iterative loop's
    * per-round release of its previous round.
    */
  def dropCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Runs `body`, then releases what it registered. */
  def owned[A](body: => A): A = {
    val mine = ArrayBuffer.empty[() => Unit]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_())
    }
  }
}
