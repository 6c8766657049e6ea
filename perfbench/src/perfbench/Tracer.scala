package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into the program. Times are
  * System.nanoTime; `parent` is -1 for a pass's root span.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark counts attributed to one span. `stageTaskMs` keeps each stage's
  * task times for the skew ratio.
  */
final class SpanCounts {
  var jobsStarted = 0
  var jobsEnded = 0
  var stages = 0
  var singleTaskStages = 0
  var tasks = 0
  var failedTasks = 0
  var taskBusyMs = 0L
  var schedDelayMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  /** Lowest SQL execution id among the span's jobs. */
  var minExecution = Long.MaxValue
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the most task time. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(ts(ts.size / 2), 1L)
    }
}

/** Attributes every job, stage and task to the span that was innermost
  * on the driver thread when the job was submitted. The span id travels
  * as a local property, which Spark also copies into the jobs that SQL
  * runs from helper threads (broadcast exchanges), where the job group
  * is replaced by Spark's own.
  */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val counts = mutable.Map.empty[String, SpanCounts]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val unattributedJobs = mutable.ArrayBuffer.empty[(Long, String)]
  private var allJobs = 0
  private var barrier: Option[(String, CountDownLatch)] = None

  private def at(span: String): SpanCounts = counts.getOrElseUpdate(span, new SpanCounts)

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
    spanOf(e.properties) match {
      case Some(s) if s.startsWith(BarrierPrefix) => jobSpan(e.jobId) = s
      case Some(s) =>
        allJobs += 1
        jobSpan(e.jobId) = s
        val c = at(s)
        c.jobsStarted += 1
        if (execution >= 0) c.minExecution = math.min(c.minExecution, execution)
      case None =>
        allJobs += 1
        unattributedJobs += (execution ->
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      if (s.startsWith(BarrierPrefix)) barrier.filter(_._1 == s).foreach(_._2.countDown())
      else at(s).jobsEnded += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).filterNot(_.startsWith(BarrierPrefix)).foreach { s =>
      stageSpan(e.stageInfo.stageId) = s
      val c = at(s)
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = at(s)
      val info = e.taskInfo
      val dur = info.duration
      c.tasks += 1
      if (!info.successful) c.failedTasks += 1
      c.taskBusyMs += dur
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += dur
      Option(e.taskMetrics).foreach { m =>
        // the scheduler-delay formula of Spark's stage page
        val gettingResult =
          if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        c.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
      }
    }
  }

  def countsOf(span: Int): SpanCounts = synchronized(counts.getOrElse(span.toString, new SpanCounts))
  /** (SQL execution id or -1, call site) of the jobs seen without a
    * span since the last call.
    */
  def takeUnattributed(): Seq[(Long, String)] = synchronized {
    val r = unattributedJobs.toList
    unattributedJobs.clear()
    r
  }
  /** Every job seen, barriers excepted. */
  def jobsSeen: Int = synchronized(allJobs)

  /** Submit a one-task job tagged as a barrier and wait for its end
    * event. Spark posts a job's end event before the action returns, and
    * a listener receives events in posting order, so once the barrier's
    * end arrives, every job that ended before it has been delivered with
    * all its stage and task events. No fixed sleep.
    */
  def drain(sc: SparkContext, id: Int): Unit = {
    val tag = s"$BarrierPrefix$id"
    val latch = new CountDownLatch(1)
    synchronized { barrier = Some(tag -> latch) }
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, tag)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(SpanKey, saved)
    if (!latch.await(120, TimeUnit.SECONDS))
      throw new IllegalStateException("listener barrier did not arrive within 120 s")
    synchronized { barrier = None }
  }
}

object Tracer {
  /** Name of the span around a whole pass. */
  val Root = "root"

  def root[T](tracer: Option[Tracer])(body: => T): T =
    tracer.fold(body)(_.span(Root)(body))
}

object SpanListener {
  val SpanKey = "perfbench.span"
  val BarrierPrefix = "barrier-"
}

/** Records spans in memory around calls made on the driver thread. Each
  * span is also a Spark job group, so a span's jobs can be found by
  * group in any Spark tool.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new SpanListener
  sc.addSparkListener(listener)

  private var nextId = 0
  private val open = mutable.ArrayBuffer.empty[(Int, String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Output directories a span wrote, for its file count. */
  val outputs = mutable.Map.empty[Int, Seq[String]]

  private def enter(id: Int, name: String): Unit = {
    sc.setLocalProperty(SpanListener.SpanKey, id.toString)
    sc.setJobGroup(s"perfbench-$runId-$id", name)
  }

  def span[T](name: String, writes: Seq[String] = Nil)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.lastOption.map(_._1).getOrElse(-1)
    open += ((id, name, System.nanoTime()))
    enter(id, name)
    try body
    finally {
      val end = System.nanoTime()
      val (_, _, start) = open.remove(open.size - 1)
      spans += Span(id, name, parent, runId, start, end)
      outputs(id) = writes
      open.lastOption match {
        case Some((pid, pname, _)) => enter(pid, pname)
        case None =>
          sc.setLocalProperty(SpanListener.SpanKey, null)
          sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every job the spans so far ran. */
  def drain(): Unit = listener.drain(sc, nextId)

  def close(): Unit = sc.removeSparkListener(listener)

  /** A span's wall time minus the part its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
