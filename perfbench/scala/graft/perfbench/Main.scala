package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload: `setup` runs once per set-up repetition, each time in a
  * fresh session; `measure` runs the timed ops in the last session. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def measure(b: Bench): Unit
}

/** The closed-loop op runner. Each op is timed on its own; its output
  * check runs after the clock stops and throws on a wrong result. In a
  * traced run every op runs with the listeners attached and its layer
  * calls inside spans. The plan fixes the ops. */
final class Bench(val spark: SparkSession, val traceRun: Boolean) {
  private val tracer = if (traceRun) Some(new Tracer(spark)) else None
  private var active: Option[Tracer] = None
  private var seq = 0
  val records: mutable.ArrayBuffer[mutable.Map[String, Any]] = mutable.ArrayBuffer.empty
  private var marks = mutable.LinkedHashMap.empty[String, Any]

  /** A span around one layer call; free when the op is not traced. */
  def span[T](name: String)(body: => T): T = active match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }

  /** Drain `df` inside a span; a traced op also records its execution,
    * which `queryExecution.toRdd` hides from the listener. */
  def drain(name: String, df: org.apache.spark.sql.DataFrame): Long = span(name) {
    val n = Drain(df)
    active.foreach(_.noteExecution(df.queryExecution))
    n
  }

  /** Counters so far in a traced op, kept under `label` in its record. */
  def mark(label: String): Unit = active.foreach(t => marks(label) = t.cut(insideOp = true))

  def op[T](name: String, kind: String)(body: => T)(check: T => Map[String, Any]): Option[T] = {
    val id = seq; seq += 1
    active = tracer
    active.foreach { t => t.attach(); t.begin(id) }
    marks = mutable.LinkedHashMap.empty
    val before = Hygiene.sample(spark)
    val t0 = System.nanoTime()
    val res = try Right(active.fold(body)(_.span(name)(body)))
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val counters = active.map(_.cut(insideOp = false))
    active.foreach(_.detach())
    active = None
    val after = Hygiene.sample(spark)
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "name" -> name, "kind" -> kind, "wall_s" -> wall,
      "traced" -> counters.isDefined, "ok" -> true,
      "storage_before" -> before.storageBytes, "storage_after" -> after.storageBytes,
      "persistent_before" -> before.persistentRdds,
      "persistent_after" -> after.persistentRdds,
      "conf_changes" -> Hygiene.confChanges(before.conf, after.conf),
      "gc_s" -> (after.gcMs - before.gcMs) / 1e3)
    counters.foreach(c => rec("counters") = c)
    if (marks.nonEmpty) rec("marks") = marks.toMap
    res match {
      case Left(e) => fail(rec, e)
      case Right(v) =>
        try rec("detail") = check(v)
        catch { case e: Throwable => fail(rec, e) }
    }
    records += rec
    res.toOption
  }

  def fail(rec: mutable.Map[String, Any], e: Throwable): Unit = {
    rec("ok") = false
    rec("error") = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(3).mkString(" | ").take(400)
  }

  def spans: Seq[Span] = tracer.map(_.spans.toSeq).getOrElse(Nil)
}

object Main {

  def main(args: Array[String]): Unit = args match {
    case Array("--prepare", out, fixture, work) => prepare(out, fixture, work)
    case Array(planPath) => run(planPath)
    case _ =>
      System.err.println("usage: Main --prepare <out.json> <fixture> <work> | Main <plan.json>")
      sys.exit(2)
  }

  private val json = new ObjectMapper()

  /** Build step: writes the registry names with their DuckDB oracle SQL
    * (null when none), then starts a session and warms it up once, so the
    * build's class-data-sharing archive holds the classes every run loads. */
  private def prepare(out: String, fixture: String, work: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val m = new java.util.TreeMap[String, Any]()
    graft.SparkEntry.queries.keys.foreach(k => m.put(k, oracle.getOrElse(k, null)))
    Files.writeString(Paths.get(out), json.writeValueAsString(m))
    val spark = newSession(2, work)
    warmUp(spark, fixture)
    stopSession(spark)
  }

  def newSession(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    graft.llm.Dedup.clearShingleCache()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Parquet reader + codegen + shuffle warm-up, as Bench does it. */
  def warmUp(spark: SparkSession, fixture: String): Unit = {
    val li = graft.Tables.t(spark, fixture, "lineitem")
    Drain(li.select("l_orderkey", "l_partkey", "l_quantity"))
    Drain(li.groupBy("l_returnflag").agg(sum("l_quantity")))
  }

  /** Box probe that calls no library code: a fixed pure-JVM CPU loop plus
    * one plain `spark.read` decode of the fixture lineitem. Median of 3. */
  def calib(spark: SparkSession, fixture: String): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println("unreachable")
      Drain(spark.read.parquet(s"$fixture/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity"))
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(1)
  }

  /** High-water resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)

  /** Convert nested Scala values to what Jackson writes as JSON. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_]    => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  private def run(planPath: String): Unit = {
    HeapWatch.start()
    val plan = json.readTree(Files.readString(Paths.get(planPath)))
    val work = plan.get("work").asText()
    val fixture = plan.get("fixture").asText()
    val cores = plan.get("cores").asInt()
    val workload: Workload = plan.get("workload").asText() match {
      case "registry" => new Registry(plan, fixture, work)
      case "table-io" => new TableIo(plan, fixture, work)
      case "state"    => new State(plan, fixture, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // every set-up repetition starts from a fresh session, so each one
    // pays session start, warm-up and the workload's own build
    var spark: SparkSession = null
    val setupTimes = (0 until plan.get("setup_reps").asInt()).map { rep =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = newSession(cores, work)
      warmUp(spark, fixture)
      workload.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val bench = new Bench(spark, plan.get("trace").asBoolean())
    workload.measure(bench)
    val calibS = calib(spark, fixture)
    val out = Map(
      "setup_s" -> setupTimes,
      "calib_s" -> calibS,
      "cores" -> cores,
      "records" -> bench.records.map(_.toMap),
      "spans" -> bench.spans.map(s => Map("id" -> s.id, "op" -> s.op,
        "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)),
      "peak_rss_mb" -> peakRssMb,
      "peak_live_mb" -> HeapWatch.peakLiveMb)
    Files.writeString(Paths.get(plan.get("result").asText()),
      json.writeValueAsString(toJava(out)))
    stopSession(spark)
  }

  /** Independent work (set-up writes, output checks) run side by side;
    * the thunks' results in order. */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(tasks)(t => Future(t())), scala.concurrent.duration.Duration.Inf)
  }

  /** Plan arrays as Scala values. */
  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong()).toSeq
  def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt()).toSeq
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Bytes under `dir` (recursive), and bytes in files modified since
    * `sinceMs` — what an op left behind, measured from outside. */
  def dirBytes(dir: String, sinceMs: Long = Long.MinValue): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs)
        .map(Files.size(_)).sum
      finally w.close()
    }
  }
}

/** The program's own memory, measured by the JVM rather than by the OS:
  * the largest heap in use right after a garbage collection over the run
  * (live data plus old-generation garbage not yet collected, from the
  * collectors' notifications), plus the peak of the non-heap pools
  * (metaspace of loaded and generated classes, JIT code). */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L

  def peakLiveMb: Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (peak + nonHeap) / 1048576.0
  }

  def start(): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
