package graft.etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region at a layer boundary. Times are ms since the tracer's
  * epoch; `round` is the iteration the span belongs to (its trace id). */
final case class Span(id: Long, name: String, parent: Long, round: Int,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark-side work attributed to one span: the jobs it launched and the
  * stages and tasks of those jobs. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRecords, outBytes = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes
  }
}

/** In-memory span recorder for the single client thread. When disabled,
  * `span` is a plain call: untraced runs register no listener and keep
  * no spans. Jobs are attributed to the innermost open span through a
  * Spark local property, which the job-start event carries. */
final class Tracer(val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Long]()
  private var nextId = 1L
  private var sc: Option[org.apache.spark.SparkContext] = None
  val work = mutable.Map[Long, Work]()
  var round = 0

  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  /** Converts a wall-clock event time (Spark events) to tracer ms. */
  def fromEpoch(ms: Long): Double = (ms - epochMs).toDouble

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = if (stack.isEmpty) 0L else stack.top
    stack.push(id)
    sc.foreach(_.setLocalProperty(Tracer.Prop, id.toString))
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.pop()
      sc.foreach(_.setLocalProperty(Tracer.Prop,
        if (stack.isEmpty) null else stack.top.toString))
      record(Span(id, name, parent, round, start, end))
    }
  }

  def record(s: Span): Unit = synchronized { spans += s }
  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  def workOf(id: Long): Work = synchronized(work.getOrElseUpdate(id, new Work))

  /** Every span, with listener-recorded ones placed in the tree: a job
    * takes its launching span's round; a Catalyst phase gets as parent
    * the innermost client span containing its start. Read after the
    * listener bus has drained. */
  def allSpans: Seq[Span] = {
    val all = synchronized(spans.toList)
    val client = all.filter(_.round >= 0)
    val byId = client.map(s => s.id -> s).toMap
    all.map {
      case s if s.round >= 0 => s
      case s if s.parent >= 0 =>
        s.copy(round = byId.get(s.parent).fold(-1)(_.round))
      case s =>
        client.filter(c => c.startMs <= s.startMs && s.startMs <= c.endMs)
          .sortBy(-_.startMs).headOption
          .fold(s)(c => s.copy(parent = c.id, round = c.round))
    }
  }

  /** Registers the Spark and Catalyst listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new JobRecorder(this))
    spark.listenerManager.register(new PhaseRecorder(this))
  }

  /** Spans and per-span work as JSON, written once at exit. */
  def toJson: String = {
    val ss = allSpans.sortBy(_.startMs).map { s =>
      val w = synchronized(work.get(s.id))
      val wj = w.fold("") { w =>
        s""","jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
          s""""task_ms":${w.taskMs},"shuffle_write":${w.shuffleWrite},""" +
          s""""shuffle_read":${w.shuffleRead},"spill":${w.spill},""" +
          s""""in_bytes":${w.inBytes},"in_records":${w.inRecords},""" +
          s""""out_bytes":${w.outBytes}"""
      }
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""round":${s.round},"start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f$wj}"""
    }
    ss.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Prop = "etlbench.span"
}

/** Counts jobs, stages, tasks, task time and bytes per span. Job spans
  * become children of the span that launched them. */
final class JobRecorder(t: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = owner
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = owner)
    t.workOf(owner).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val owner = jobSpan.getOrElse(e.jobId, 0L)
    val start = jobStart.getOrElse(e.jobId, e.time)
    t.record(Span(t.newId(), "spark.job", owner, -1,
      t.fromEpoch(start), t.fromEpoch(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      t.workOf(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = t.workOf(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.diskBytesSpilled
      w.inBytes += m.inputMetrics.bytesRead
      w.inRecords += m.inputMetrics.recordsRead
      w.outBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Records the Catalyst phases of every executed action as spans; their
  * parent is resolved afterwards by time containment. */
final class PhaseRecorder(t: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      t.record(Span(t.newId(), s"catalyst.$phase", -1L, -1,
        t.fromEpoch(p.startTimeMs), t.fromEpoch(p.endTimeMs)))
    }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
