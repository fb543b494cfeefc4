package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer call: times are microseconds since the Unix epoch. */
final case class Span(id: Int, parent: Int, name: String, item: String,
    startUs: Long, endUs: Long)

/** In-memory span recorder. Off unless `enable()` is called; when off,
  * `span` only runs its body. Spans nest by call order on the harness
  * thread. Intervals that Spark reports (jobs, planning phases) are kept
  * with the item's [[Counters]] and placed under the span that contains
  * them when the trace is read (layers.py).
  */
object Trace {
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack[Int]()
  private var nextId = 1
  var item = ""

  def enable(): Unit = on = true

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val start = nowUs
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans.synchronized { spans += Span(id, parent, name, item, start, nowUs) }
      }
    }
}

/** Counters of one item, filled by the listeners while the item runs. */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val constructJobs = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  val streamQueries, triggers, stateRows = new AtomicLong
  val streamMs = new ConcurrentHashMap[String, AtomicLong]()
  val codegenMs = new DoubleAdder
  val fallbacks = new AtomicLong
  /** Intervals reported by Spark (job runs, planning phases), epoch µs. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]()

  def addStream(k: String, ms: Long): Unit =
    streamMs.computeIfAbsent(k, _ => new AtomicLong).addAndGet(ms)
}

/** Spark's public listener APIs, attributing every event to the item
  * that the harness marked current. Items run one at a time and the
  * listener bus is drained before the mark moves, so each event lands on
  * the item (and the phase) that caused it.
  */
final class Listeners(spark: SparkSession) {
  @volatile var current = new Counters
  @volatile var constructing = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      current.jobs.incrementAndGet()
      current.jobStarts.put(e.jobId, e.time * 1000L)
      if (constructing) current.constructJobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(current.jobStarts.remove(e.jobId)).foreach(s =>
        current.intervals.add(("job", s, e.time * 1000L)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      current.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      current.streamQueries.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = current
      val p = e.progress
      c.triggers.incrementAndGet()
      p.durationMs.forEach((k, v) => c.addStream(k, v.longValue))
      p.stateOperators.foreach(s => c.stateRows.addAndGet(s.numRowsTotal))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Planning phases (analysis, optimization, planning) of every executed
    * query, as Spark's QueryPlanningTracker recorded them.
    */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        current.intervals.add((name, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Codegen compile times and whole-stage fallbacks, from Spark's log. */
  private val appender = new AbstractAppender("perfbench", null, null, true,
      Property.EMPTY_ARRAY) {
    private val generated = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      msg match {
        case generated(ms) => current.codegenMs.add(ms.toDouble)
        case _ if msg.contains("Whole-stage codegen disabled") =>
          current.fallbacks.incrementAndGet()
        case _ =>
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    for (name <- Seq(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.execution.WholeStageCodegenExec")) {
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
