package servicebench

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** A timed call at a layer boundary. Times are epoch nanoseconds (Spark's
  * millisecond event times convert onto the same clock). */
final case class Span(id: Int, parent: Int, req: String, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
  def json: String =
    s"""{"id":$id,"parent":$parent,"req":"$req","name":"$name","start_ns":$start,"end_ns":$end}"""
}

object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def fromNano(t: Long): Long = anchorMs * 1000000L + (t - anchorNs)
  def now: Long = fromNano(System.nanoTime())
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** Length of the union of [start, end) intervals. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- xs.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
  def clip(xs: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}

/** Spark-side events of the traced calls, collected by public listeners
  * registered from here: job/stage/task events from a [[SparkListener]],
  * Catalyst phase times from a [[QueryExecutionListener]], codegen compile
  * counts and times from Spark's codegen histogram, and whole-stage codegen
  * fallbacks from a counter on the codegen logger.
  *
  * Jobs are attributed to the layer call that submitted them through a
  * thread-local Spark property ([[SpanKey]]), which Spark copies into every
  * job the calling thread starts. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobs = ArrayBuffer[Job]()
  private val openJobs = scala.collection.mutable.Map[Int, (Long, String)]()
  private val stageSubmit = scala.collection.mutable.Map[Int, Long]()
  private val tasks = ArrayBuffer[Task]()
  private var stagesDone = 0
  private val phases = ArrayBuffer[Phase]()
  private val fallbacks = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      openJobs(e.jobId) = (e.time, tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      openJobs.remove(e.jobId).foreach { case (t0, tag) =>
        jobs += Job(tag, Clock.fromMs(t0), Clock.fromMs(e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stagesDone += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        waitMs = math.max(0L, e.taskInfo.launchTime -
          stageSubmit.getOrElse(e.stageId, e.taskInfo.launchTime)),
        inBytes = m.inputMetrics.bytesRead, inRecords = m.inputMetrics.recordsRead,
        shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.diskBytesSpilled, gcMs = m.jvmGCTime)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, Clock.fromMs(p.startTimeMs), Clock.fromMs(p.endTimeMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val fallbackCounter = {
    import org.apache.logging.log4j.core.{Appender, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender: Appender = new AbstractAppender("servicebench-fallbacks", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("Whole-stage codegen disabled") ||
            msg.contains("whole-stage codegen was disabled")) fallbacks.incrementAndGet()
      }
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    (ctx, appender)
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val (ctx, appender) = fallbackCounter
    ctx.getLogger(CodegenLogger).asInstanceOf[org.apache.logging.log4j.core.Logger]
      .addAppender(appender)
  }

  /** Tag every job the calling thread starts until the next call. */
  def tagThread(tag: String): Unit = sc.setLocalProperty(SpanKey, tag)

  /** Counters that are not events: codegen compiles and fallbacks. */
  def counters(): Counters = {
    val h = BenchBridge.codegenCompileTime
    Counters(h.getCount, h.getSnapshot.getValues.toSeq, fallbacks.get)
  }

  /** Every event delivered since the last call, once the bus is empty. */
  def take(): Events = {
    BenchBridge.drainListenerBus(sc)
    lock.synchronized {
      val ev = Events(jobs.toList, tasks.toList, stagesDone, phases.toList)
      jobs.clear(); tasks.clear(); phases.clear(); stagesDone = 0
      ev
    }
  }
}

object Tracer {
  val SpanKey = "servicebench.span"
  val CodegenLogger = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  final case class Job(tag: String, start: Long, end: Long)
  final case class Task(runMs: Long, cpuNs: Long, waitMs: Long,
      inBytes: Long, inRecords: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, gcMs: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Events(jobs: List[Job], tasks: List[Task], stages: Int,
      phases: List[Phase])

  final case class Counters(compiles: Long, samples: Seq[Long], fallbacks: Long) {
    /** Compile milliseconds recorded since `before`: the samples that are
      * new in the histogram's reservoir. Exact until the reservoir (1028
      * samples) fills; a lower bound after that. */
    def compileMsSince(before: Counters): Long = {
      val old = scala.collection.mutable.Map[Long, Int]().withDefaultValue(0)
      before.samples.foreach(v => old(v) += 1)
      samples.filter { v => if (old(v) > 0) { old(v) -= 1; false } else true }.sum
    }
  }
}
