package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (-1 at the top); `attrs` carries counts measured at the same
  * boundary. All spans of a run belong to its one traced operation. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    var endNs: Long, attrs: mutable.Map[String, Double])

/** In-memory span recorder and listener totals for the traced run. Spans
  * and counters are only appended to here; everything is written out
  * once, when the benchmark ends. */
object Tracer {
  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** (startEpochMs, endEpochMs) of every Spark job seen by the listener. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Epoch offset so span nanos and listener epoch-millis compare. */
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  def span[T](name: String, attrs: (String, Double)*)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime(), -1L, mutable.Map(attrs: _*))
    spans += s
    stack.push(s)
    try body
    finally { s.endNs = System.nanoTime(); stack.pop() }
  }

  def lastNamed(name: String): Option[Span] =
    spans.reverseIterator.find(_.name == name)

  /** Source scans seen so far, with cached relations counted at their
    * first (materializing) appearance only. */
  private val seenCaches = mutable.Set.empty[Int]

  private def scans(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case m: InMemoryTableScanExec =>
      val key = System.identityHashCode(m.relation.cacheBuilder)
      if (seenCaches.add(key)) scans(m.relation.cachedPlan) else 0
    case _: FileSourceScanExec | _: RowDataSourceScanExec | _: BatchScanExec =>
      1
    case other =>
      other.children.map(scans).sum + other.subqueries.map(scans).sum
  }

  private object SparkTotals extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("spark.jobs", 1); jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("spark.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime
        add("spark.scheduler_delay_s",
          math.max(0L, e.taskInfo.duration - overhead) / 1e3)
      }
    }
  }

  private object Phases extends QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception)
        : Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.synchronized {
      add("spark.actions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"spark.${phase}_ms", s.durationMs.toDouble)
      }
      add("spark.source_scans", scans(qe.executedPlan))
    }
  }

  private object Streaming extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("streaming.batches", 1)
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        add(s"streaming.${k}_ms", v.toDouble)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(SparkTotals)
    spark.listenerManager.register(Phases)
    spark.streams.addListener(Streaming)
  }

  def detach(spark: SparkSession): Unit = {
    flush(spark)
    spark.sparkContext.removeSparkListener(SparkTotals)
    spark.listenerManager.unregister(Phases)
    spark.streams.removeListener(Streaming)
  }

  /** Drain Spark's listener bus so totals include every finished event
    * (the bus is private to Spark, hence the reflective call). */
  def flush(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Total Spark-job time inside the intervals of spans named `name`. */
  def jobSecondsWithin(name: String): Double = {
    val ivals = spans.filter(s => s.name == name && s.endNs > 0)
      .map(s => (epochMs(s.startNs), epochMs(s.endNs)))
    jobs.filter { case (s, e) =>
      ivals.exists { case (a, b) => s >= a - 1 && e <= b + 1 }
    }.map { case (s, e) => (e - s) / 1e3 }.sum
  }

  def toJson(runId: String): Any = Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.startNs - nano0) / 1e9,
      "end_s" -> (s.endNs - nano0) / 1e9,
      "attrs" -> s.attrs.toMap)).toSeq,
    "counters" -> counters.toMap,
    "merge_job_s" -> jobSecondsWithin("io.merge"))
}

/** Machine-wide CPU accounting over a window, from /proc/stat: busy and
  * hypervisor-steal shares of all jiffies (user+nice+system vs steal). */
object Host {
  def jiffies(): Option[(Long, Long, Long)] =
    try {
      val v = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((v(0) + v(1) + v(2), if (v.length > 7) v(7) else 0L,
        v.take(8).sum))
    } catch { case _: Throwable => None }

  def shares(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)])
      : (Double, Double) = (a, b) match {
    case (Some((b0, s0, t0)), Some((b1, s1, t1))) if t1 > t0 =>
      ((b1 - b0).toDouble / (t1 - t0), (s1 - s0).toDouble / (t1 - t0))
    case _ => (-1.0, -1.0)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
