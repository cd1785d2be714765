package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a graft module (or a benchmark step that groups such
  * calls). Wall-clock milliseconds place Spark events inside the span;
  * nanoseconds give its duration. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-span Spark work, attributed by time: ops are serial, so every job
  * or stage that starts inside a span's interval was launched by that
  * span's call (or one of its children), whichever thread launched it. */
final case class SpanWork(jobs: Int, gapMs: Double, shuffleBytes: Long, recordsRead: Long)

/** Records jobs, stages and task metrics. Handlers run on Spark's single
  * listener thread; their own cost is summed into `handlerNs`. */
final class WorkListener extends SparkListener {
  final class StageRec {
    @volatile var submitMs = -1L
    @volatile var doneMs = -1L
    @volatile var shuffleBytes = 0L
    @volatile var recordsRead = 0L
  }
  val jobStarts = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  @volatile var handlerNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }
  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed { jobStarts.add(e.time) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).submitMs =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.doneMs = i.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitMs < 0) s.submitMs = i.submissionTime.getOrElse(s.doneMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Spans around the benchmark's calls into graft. Disabled, `span` is a
  * plain call: the untraced run pays nothing and registers no listener.
  * Spans are kept in memory and written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  @volatile private var bookkeepingNs = 0L
  val listener = new WorkListener

  def install(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(listener)

  /** Ops are serial, but a streaming callback runs its calls on the
    * stream's thread while the caller blocks; one shared stack (under a
    * lock) therefore nests them correctly. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val s = synchronized {
        val sp = Span(all.size, open.headOption.fold(-1)(_.id), name,
          System.currentTimeMillis(), System.nanoTime())
        all += sp
        open = sp :: open
        sp
      }
      bookkeepingNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
          require(open.head eq s, s"span ${s.name} closed out of order")
          open = open.tail
        }
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  def spans: Seq[Span] = synchronized(all.toSeq)

  /** Tracer time on the calling threads plus listener-handler time. */
  def overheadNs: Long = bookkeepingNs + listener.handlerNs

  /** Waits for the listener bus, then attributes Spark work to each span. */
  def attribute(sc: SparkContext): Map[Int, SpanWork] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = listener.jobStarts.asScala.toArray.sorted
    val stages = listener.stages.values.asScala.filter(_.submitMs >= 0).toArray
    spans.map { s =>
      def inside(t: Long) = t >= s.startMs && t <= s.endMs
      val mine = stages.filter(st => inside(st.submitMs))
      // stage-busy time inside the span: union of stage intervals, clipped
      val busy = stages
        .map(st => (math.max(st.submitMs, s.startMs), math.min(if (st.doneMs < 0) s.endMs else st.doneMs, s.endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          if (b <= reach) (acc, reach)
          else (acc + b - math.max(a, reach), b)
        }._1
      s.id -> SpanWork(
        jobs = jobs.count(inside),
        gapMs = math.max(0.0, s.ms - busy),
        shuffleBytes = mine.map(_.shuffleBytes).sum,
        recordsRead = mine.map(_.recordsRead).sum)
    }.toMap
  }
}
