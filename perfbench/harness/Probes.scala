package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Additive and max counters shared by the listeners. Listener callbacks
  * run on the bus thread; the client thread reads only after a settle. */
final class Bag {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { sums(k) = math.max(sums.getOrElse(k, 0.0), v) }
  def get(k: String): Double = synchronized { sums.getOrElse(k, 0.0) }
  def snapshot: Map[String, Double] = synchronized { sums.toMap }
  def reset(): Unit = synchronized { sums.clear() }
}

/** Job, stage, task and block counters from Spark's public listener
  * events. `balanced` is true once every start seen has its end. */
final class LayerListener(bag: Bag) extends SparkListener {
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val rddBlocks = mutable.HashMap.empty[String, Long]

  def reset(): Unit = synchronized { stageTaskMs.clear(); rddBlocks.clear(); bag.reset() }
  def balanced: Boolean =
    bag.get("jobs") == bag.get("jobs_ended") && bag.get("stages") == bag.get("stages_ended") &&
      bag.get("tasks") == bag.get("tasks_ended")
  def blocks: (Int, Long) = synchronized { (rddBlocks.size, rddBlocks.values.sum) }

  override def onJobStart(e: SparkListenerJobStart): Unit = bag.add("jobs", 1)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = bag.add("jobs_ended", 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = bag.add("stages", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    bag.add("stages_ended", 1)
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val ms = synchronized { stageTaskMs.remove(key) }.getOrElse(mutable.ArrayBuffer.empty[Long])
    if (ms.size >= 2) {
      val sorted = ms.sorted
      val med = math.max(sorted(sorted.size / 2), 1L)
      bag.max("task_skew", sorted.last.toDouble / med)
    }
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = bag.add("tasks", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    bag.add("tasks_ended", 1)
    if (e.reason != Success) bag.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bag.add("executor_run_ms", m.executorRunTime)
      bag.add("executor_cpu_ns", m.executorCpuTime)
      bag.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      bag.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      bag.add("spill_bytes", m.diskBytesSpilled)
      bag.max("peak_exec_mem", m.peakExecutionMemory)
      bag.add("records_read", m.inputMetrics.recordsRead)
      bag.add("bytes_read", m.inputMetrics.bytesRead)
      bag.add("records_written", m.outputMetrics.recordsWritten)
    }
    if (e.reason == Success) synchronized {
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
      rddBlocks(info.blockId.name) = info.memSize + info.diskSize
    }
  }
}

/** The only listener of untraced passes: job starts and ends, so a pass
  * ends only when every job it started has ended. */
final class JobsListener extends SparkListener {
  val jobs = new AtomicLong()
  val jobsEnded = new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
}

/** Analysis, optimization and planning time of every QueryExecution. */
final class PhaseListener(bag: Bag) extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = {
    bag.add("query_executions", 1)
    qe.tracker.phases.foreach { case (phase, s) => bag.add(s"phase_$phase", s.durationMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Micro-batch count, duration and rows of every streaming query. */
final class StreamListener(bag: Bag) extends StreamingQueryListener {
  val batchMs = mutable.ArrayBuffer.empty[Long]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = bag.add("stream_started", 1)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      bag.add("stream_batches", 1)
      bag.add("stream_rows", p.numInputRows)
      bag.add("stream_batch_ms", p.batchDuration)
      synchronized { batchMs += p.batchDuration }
    }
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    bag.add("stream_ended", 1)
  def reset(): Unit = synchronized { batchMs.clear() }
}

/** Counts ERROR and FATAL log events. Spark's own logging goes to the
  * file the log4j2 config names; nothing is muted. */
final class ErrorCounter extends AbstractAppender("graftbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val errors = new AtomicLong()
  val schedulerErrors = new AtomicLong()
  val firstMessages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def append(e: LogEvent): Unit = if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
    errors.incrementAndGet()
    if (String.valueOf(e.getLoggerName).contains("DAGScheduler")) schedulerErrors.incrementAndGet()
    if (firstMessages.size < 20)
      firstMessages.add(s"${e.getLoggerName}: ${String.valueOf(e.getMessage.getFormattedMessage).take(300)}")
  }
}

object ErrorCounter {
  def install(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new ErrorCounter
    app.start()
    val cfg = ctx.getConfiguration
    cfg.addAppender(app)
    cfg.getRootLogger.addAppender(app, Level.ERROR, null)
    cfg.getLoggers.asScala.values.foreach(lc => if (!lc.isAdditive) lc.addAppender(app, Level.ERROR, null))
    ctx.updateLoggers()
    app
  }
}

/** In-memory spans: op -> build/exec or parse/run/read/transform/write. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, endNs: Long)
  var enabled = false
  var op = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def add(name: String, seconds: Double): Unit =
    if (enabled) totals(name) = totals.getOrElse(name, 0.0) + seconds

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
        totals(name) = totals.getOrElse(name, 0.0) + (t1 - t0) / 1e9
      }
    }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Waits until the bus has delivered all events and `done` holds
    * (job ends match job starts). Returns false on timeout. */
  def settle(sc: SparkContext, done: => Boolean, timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = false
    while (!ok && System.currentTimeMillis() < deadline) {
      BusDrain(sc, timeoutMs)
      ok = done
      if (!ok) Thread.sleep(1)
    }
    ok
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => str(other.toString)
  }
}
