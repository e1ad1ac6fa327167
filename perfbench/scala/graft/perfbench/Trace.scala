package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters one traced op accumulates from the Spark listener bus and the
  * query-execution listener. All sums except `peak_exec_mem_bytes` (a max). */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap(
    "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0, "sched_wait_s" -> 0.0,
    "task_run_s" -> 0.0, "shuffle_read_bytes" -> 0.0,
    "shuffle_write_bytes" -> 0.0, "spill_bytes" -> 0.0,
    "peak_exec_mem_bytes" -> 0.0, "input_bytes" -> 0.0,
    "output_bytes" -> 0.0, "analysis_s" -> 0.0,
    "optimization_s" -> 0.0, "planning_s" -> 0.0, "exchanges" -> 0.0,
    "executions" -> 0.0)
  def add(k: String, x: Double): Unit = v(k) = v(k) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v(k), x)
  def snapshot: Map[String, Double] = v.toMap
}

/** One span: a layer call inside an op. `parent` is -1 for the op itself. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long)

/** The traced run's instrumentation, registered from outside the library:
  * a SparkListener and a QueryExecutionListener that fold every event into
  * the counters of the op in flight, plus an in-memory span stack. The
  * benchmark has one closed-loop client, so "the op in flight" is exact
  * once the bus is drained at the op's boundaries. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile private var cur: Counters = new Counters
  /** Time spent in the tracer itself: listener callbacks and bus drains. */
  private val overheadNs = new java.util.concurrent.atomic.AtomicLong
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var spanSeq = 0
  private var opId = -1

  private val sc = spark.sparkContext

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Start an op: drain stale events, reset the counters. */
  def begin(op: Int): Unit = {
    PerfbenchBus.drain(sc)
    synchronized {
      cur = new Counters; stageSubmit.clear(); stageFirstLaunch.clear()
    }
    overheadNs.set(0)
    opId = op
  }

  /** Counters so far in the current op, after draining the bus, with the
    * tracer's own time since `begin` as `trace_overhead_s`: listener
    * callbacks, plus the drain itself when it runs inside the op's clock. */
  def cut(insideOp: Boolean): Map[String, Double] = {
    if (insideOp) timed(PerfbenchBus.drain(sc)) else PerfbenchBus.drain(sc)
    synchronized(cur.snapshot) + ("trace_overhead_s" -> overheadNs.get / 1e9)
  }

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Record `qe` as an execution of the current op — for drains that go
    * through `queryExecution.toRdd`, which the listener never sees. */
  def noteExecution(qe: QueryExecution): Unit = synchronized(fold(qe))

  def span[T](name: String)(body: => T): T = {
    val id = spanSeq; spanSeq += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack.push((id, name, System.nanoTime()))
    try body
    finally {
      val (_, _, t0) = stack.pop()
      spans += Span(id, opId, name, parent, t0, System.nanoTime())
    }
  }

  private def fold(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    cur.add("analysis_s", sec("analysis"))
    cur.add("optimization_s", sec("optimization"))
    cur.add("planning_s", sec("planning"))
    cur.add("exchanges",
      collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size)
    cur.add("executions", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(synchronized(fold(qe)))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    timed(synchronized(cur.add("executions", 1)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(synchronized(cur.add("jobs", 1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed(synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  })

  override def onTaskStart(e: SparkListenerTaskStart): Unit = timed(synchronized {
    if (!stageFirstLaunch.contains(e.stageId)) {
      stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
      stageSubmit.get(e.stageId).foreach(s =>
        cur.add("sched_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    }
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(synchronized(cur.add("stages", 1)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    cur.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      cur.add("task_run_s", m.executorRunTime / 1e3)
      cur.add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      cur.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      cur.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      cur.max("peak_exec_mem_bytes", m.peakExecutionMemory)
      cur.add("input_bytes", m.inputMetrics.bytesRead)
      cur.add("output_bytes", m.outputMetrics.bytesWritten)
    }
  })
}

/** Session-hygiene state read from outside the library between ops:
  * block-manager storage (memory + disk) of persisted RDDs, the number of
  * persistent RDDs, the session conf, and cumulative JVM GC time. */
final case class Hygiene(storageBytes: Long, persistentRdds: Int,
                         conf: Map[String, String], gcMs: Long)

object Hygiene {
  def sample(spark: SparkSession): Hygiene = {
    val sc = spark.sparkContext
    import scala.jdk.CollectionConverters._
    Hygiene(
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
      sc.getPersistentRDDs.size,
      spark.conf.getAll,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  /** Keys added, removed or changed between two conf snapshots. */
  def confChanges(a: Map[String, String], b: Map[String, String]): Int =
    (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
}

object Drain {
  /** Materialize every row without collecting them (the Bench drain). */
  def apply(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
