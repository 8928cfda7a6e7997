package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters one span (or one finished Spark job) accounts for. */
final class Counters {
  var jobs = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var planNs = 0L
  var joinRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; taskNs += o.taskNs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; planNs += o.planNs
    joinRows += o.joinRows
  }
}

final case class Span(id: Int, name: String, parent: Int, job: String,
                      start: Long) {
  var end = 0L
  val counters = new Counters
  /** Rows or bytes a span reports about its own work (name → value). */
  val facts = mutable.LinkedHashMap[String, Double]()
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder with engine counters taken from listeners.
  *
  * A span wraps one public call into a layer. While it is open its name is
  * the Spark job group. When it closes, the listener bus is drained and the
  * span claims every job and query execution that finished since the
  * previous close, so a child span claims its own work before its parent
  * does. Spans run one at a time (a stream's batch thread opens spans while
  * the main thread waits), so claiming by completion order is exact.
  * Nothing is written until [[BenchMain]] ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var currentJob = ""

  private val pending = new Counters
  private val seenCaches = mutable.HashSet[Int]()
  /** Streaming micro-batch durations (ms) reported by the query listener. */
  val batchMs = mutable.ArrayBuffer[Long]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      pending.synchronized(pending.jobs += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = pending.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        pending.taskNs += m.executorRunTime * 1000000L
        pending.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        pending.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        pending.gcMs += m.jvmGCTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) batchMs.synchronized {
        batchMs += e.progress.batchDuration
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val rows = joinRows(qe.executedPlan)
    pending.synchronized {
      pending.planNs += planMs * 1000000L
      pending.joinRows += rows
    }
  }

  /** Output rows of every join operator in an executed plan: the final
    * adaptive plan, its query stages, and each cached relation's build plan
    * the first time that relation is seen (its metrics are cumulative). */
  private def joinRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => joinRows(a.executedPlan)
    case q: QueryStageExec => joinRows(q.plan)
    case m: InMemoryTableScanExec =>
      val key = System.identityHashCode(m.relation.cacheBuilder)
      val first = pending.synchronized(seenCaches.add(key))
      if (first) joinRows(m.relation.cachedPlan) else 0L
    case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) +
        j.children.map(joinRows).sum
    case p => p.children.map(joinRows).sum
  }

  def beginJob(id: String): Unit = { drain(); pending.synchronized(reset()); currentJob = id }

  private def reset(): Unit = {
    pending.jobs = 0L; pending.taskNs = 0L; pending.shuffleBytes = 0L
    pending.spillBytes = 0L; pending.gcMs = 0L; pending.planNs = 0L
    pending.joinRows = 0L
  }

  private def drain(): Unit = PerfbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        currentJob, BenchMain.nowNs())
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setJobGroup(s"${s.name}#${s.id}", s"$currentJob ${s.name}")
    try body
    finally {
      s.end = BenchMain.nowNs()
      drain()
      synchronized {
        pending.synchronized { s.counters.add(pending); reset() }
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"${p.name}#${p.id}", s"$currentJob ${p.name}")
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Attach a measured fact (a row count, bytes written) to the innermost
    * open span. */
  def fact(key: String, value: Double): Unit = synchronized {
    stack.headOption.foreach(s => s.facts(key) = s.facts.getOrElse(key, 0.0) + value)
  }

  def close(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
