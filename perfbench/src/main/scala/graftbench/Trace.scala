package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (0 for an op root). Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With tracing off every call is a plain
  * pass-through, so untraced runs pay nothing but a branch. Spans are kept
  * until the run ends and written out once (Main writes trace.jsonl). */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** Nanoseconds the harness spent on its own trace bookkeeping. */
  val selfNs = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def span[A](op: String, name: String, parent: Long, id: Long = 0)(body: => A): A =
    if (!enabled) body
    else {
      val sid = if (id != 0) id else nextId()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(sid, parent, op, name, t0, t1))
        selfNs.addAndGet(System.nanoTime() - t1)
      }
    }

  def record(s: Span): Unit = if (enabled) spans.add(s)
}

/** Per-stage executor counters, summed from task-end events. */
final class StageAcc {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var input = 0L
  var gcMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** SparkListener attributing jobs, stages and tasks to the op that
  * submitted them through the `graftbench.op` local property (set by the
  * harness on the submitting thread, so it rides every job's properties).
  * Job intervals become `job` spans; stage/task counters are summed per op.
  * The wall-clock job times are mapped onto the nanoTime axis of the
  * harness spans through one shared anchor. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  private def toNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]
  val stagesByOp = mutable.HashMap.empty[String, mutable.ArrayBuffer[StageAcc]]
  private val liveStages = mutable.HashMap.empty[(Int, Int), StageAcc]

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally tracer.selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey)))
    op.foreach { o =>
      jobOp(e.jobId) = (o, e.time)
      e.stageIds.foreach(s => stageOp(s) = o)
    }
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      tracer.record(Span(tracer.nextId(), -1, op, "job", toNs(t0), toNs(e.time)))
    }
  })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed(synchronized {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    if (stageOp.contains(k._1)) liveStages(k) = new StageAcc
  })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(synchronized {
    liveStages.get((e.stageId, e.stageAttemptId)).foreach { a =>
      val m = e.taskMetrics
      val info = e.taskInfo
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.gcMs += m.jvmGCTime
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.taskMs += m.executorRunTime
      }
    }
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(synchronized {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (a <- liveStages.remove(k); op <- stageOp.get(k._1))
      stagesByOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += a
  })
}

object ExecListener {
  val OpKey = "graftbench.op"
}

/** Interval arithmetic over spans: self time and unions. */
object Spans {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Re-parent `job` spans onto the innermost harness span of the same op
    * that contains the job's start, so a layer's self time excludes the
    * jobs it launched. */
  def attachJobs(spans: Seq[Span]): Seq[Span] = {
    val byOp = spans.filter(_.name != "job").groupBy(_.op)
    spans.map { s =>
      if (s.name != "job") s
      else {
        val host = byOp.getOrElse(s.op, Nil)
          .filter(h => h.startNs <= s.startNs && s.startNs <= h.endNs)
          .sortBy(_.durNs).headOption
        s.copy(parent = host.map(_.id).getOrElse(0L))
      }
    }
  }

  /** Self time of every span: its duration minus the part its children
    * cover. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)),
        s.startNs, s.endNs)
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
