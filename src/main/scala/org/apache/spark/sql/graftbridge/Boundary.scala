package org.apache.spark.sql.graftbridge

import java.util.{Collections, WeakHashMap}

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The engine's one stage-boundary primitive, and the one place that
  * decides how long a materialized relation lives.
  *
  * A boundary is taken where a relation feeds several consumers (or an
  * iterative loop) and recomputing its lineage per consumer would cost
  * more than holding it. Every boundary is MEMORY_AND_DISK.
  *
  *  - [[stage]] is eager: the rows are copied into a persisted RDD and
  *    counted, and the returned frame is a flat `LogicalRDD` carrying the
  *    measured statistics (storage bytes, row count). The planner and AQE
  *    choose join strategies from those numbers, so a small staged
  *    relation broadcasts without a hint and a large one never does.
  *  - [[pin]] is lazy and goes through the cache manager, for sites that
  *    rely on reuse by plan equality (another plan that contains the same
  *    sub-plan reads the cache). It registers only cache entries it
  *    creates: pinning a relation some caller already pinned returns a
  *    frame that owns nothing, so releasing it never drops the caller's
  *    entry.
  *  - [[scoped]] is the owner: every boundary taken inside the body, on
  *    this thread or on a thread that runs a task submitted through
  *    [[executionContext]], is released (non-blocking) when the body
  *    exits, normally or by an exception. Scopes nest; an inner scope
  *    releases only what it took itself. A body that returns a lazy frame
  *    must consume it inside the scope, or the frame recomputes from its
  *    lineage.
  *  - [[release]] frees one boundary early, for iterative loops whose
  *    previous round is dead, and for handles that own their boundaries.
  *
  * Outside any scope a boundary lives until [[release]], or until the
  * session's cache is cleared (pins), or until the ContextCleaner collects
  * the returned frame (stages).
  */
object Boundary {

  /** What releasing a boundary frees. Holds no reference to the returned
    * frame, so an unscoped boundary can still be collected. */
  private type Free = () => Unit

  /** Every boundary not yet released, keyed by the frame handed out. Weak,
    * so an unscoped frame that is dropped leaves no entry behind. */
  private val owned = Collections.synchronizedMap(new WeakHashMap[DataFrame, Free]())

  private final class Scope {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def add(df: DataFrame): Unit = synchronized(held += df)
    def releaseAll(): Unit = synchronized { held.foreach(release); held.clear() }
  }

  private val current = ThreadLocal.withInitial[Option[Scope]](() => None)

  private def own(df: DataFrame, free: Free): DataFrame = {
    owned.put(df, free)
    current.get.foreach(_.add(df))
    df
  }

  /** Materialize `df` now and return a flat frame over the persisted rows,
    * with `sizeInBytes` and `rowCount` measured from the stored blocks.
    * Rows are copied because the executed plan reuses mutable rows. */
  def stage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val rows = rdd.count()
    val bytes = rdd.context.getRDDStorageInfo.filter(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).sum
    val plan = LogicalRDD(DataTypeUtils.toAttributes(ds.schema), rdd)(session,
      Some(Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))))
    own(classic.Dataset.ofRows(session, plan), () => rdd.unpersist(blocking = false))
  }

  /** Register `df` with the cache manager (lazily materialized on first
    * use). The returned frame owns the entry only if this call created it. */
  def pin(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val cache = session.sharedState.cacheManager
    val out = classic.Dataset.ofRows(session, ds.logicalPlan)
    if (cache.lookupCachedData(out).isDefined) out
    else {
      out.persist(StorageLevel.MEMORY_AND_DISK)
      val plan = out.logicalPlan
      own(out, () => cache.uncacheQuery(session, plan, cascade = false, blocking = false))
    }
  }

  /** Free a boundary returned by [[stage]] or [[pin]] now. A frame that
    * owns nothing (an already released boundary, a pin of a relation
    * someone else pinned, any other frame) is left alone. */
  def release(df: DataFrame): Unit = Option(owned.remove(df)).foreach(_())

  /** Run `body` as the owner of every boundary taken inside it. */
  def scoped[T](body: => T): T = {
    val outer = current.get
    val scope = new Scope
    current.set(Some(scope))
    try body
    finally {
      current.set(outer)
      scope.releaseAll()
    }
  }

  /** The global pool, with each task run inside the scope that was current
    * where it was submitted: a Future started in a scope takes its
    * boundaries in that scope. */
  implicit val executionContext: ExecutionContext = new ExecutionContext {
    private val pool = ExecutionContext.global
    def execute(task: Runnable): Unit = {
      val scope = current.get
      pool.execute { () =>
        val prev = current.get
        current.set(scope)
        try task.run() finally current.set(prev)
      }
    }
    def reportFailure(cause: Throwable): Unit = pool.reportFailure(cause)
  }
}
