package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark records around its own calls into the program's
  * modules, plus a listener that attributes every Spark job twice: to
  * the span open on the submitting thread (a local property, which
  * `Fan.overlap` pool threads inherit) and to the graft module of the
  * innermost graft frame in the job's call site.
  *
  * With tracing off `span` only runs its body: no local property, no
  * clock reads, no listener.
  */
object Trace {
  final case class Span(id: Long, name: String, layer: String, parent: Long, run: Int,
                        start: Long, var end: Long = 0L)

  val SpanProperty = "perfbench.span"

  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var run = 0
  private var sc: SparkContext = _
  var listener: JobListener = _

  def enable(context: SparkContext): Unit = {
    sc = context
    listener = new JobListener
    sc.addSparkListener(listener)
    on = true
  }

  def enabled: Boolean = on

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(ids.incrementAndGet(), name, layer, parent, run, System.nanoTime())
      val prevProp = sc.getLocalProperty(SpanProperty)
      stack.set(s.id :: stack.get)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        spans.add(s)
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  /** Graft module of the innermost graft frame in a call site, or None.
    * `graft.SparkEntry` (the query registry) reports as "entry". */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val seg = l.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$' && c != '(')
        if (seg.headOption.exists(_.isUpper)) "entry" else seg
    }

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

final case class StageStats(var tasks: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
                            var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                            var ioBytes: Long = 0, var schedDelayMs: Long = 0)

final case class JobRecord(id: Int, span: Long, exec: Option[Long], ownModule: Option[String],
                           site: String, start: Long, stages: Seq[Int], var end: Long = 0L)

/** Listener; its times are converted to the `System.nanoTime`
  * clock of the spans by one offset taken when it is created. */
final class JobListener extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  val stageJob = mutable.Map[Int, Int]()
  val stageStats = mutable.Map[Int, StageStats]()
  val execModule = mutable.Map[Long, String]()
  /** Stages that ran (a stage a job reuses from an earlier one is skipped, not run). */
  val stagesRun = mutable.Set[Int]()

  private def ns(ms: Long) = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = JobRecord(e.jobId, span, exec, Trace.moduleOf(site),
      site.linesIterator.take(12).mkString(" | "), ns(e.time), e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  /** Jobs that AQE or a broadcast submits from Spark's own threads carry
    * no user frames; they inherit the module of their SQL execution,
    * whose start event records the action's call site. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { Trace.moduleOf(s.details).foreach(execModule(s.executionId) = _) }
    case _ => ()
  }

  def module(j: JobRecord): Option[String] = j.ownModule.orElse(j.exec.flatMap(execModule.get))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = ns(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.submissionTime.isDefined) stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stageStats.getOrElseUpdate(e.stageId, StageStats())
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      st.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }
}
