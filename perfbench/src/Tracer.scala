package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.{SparkBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans and counters for the traced run, kept in memory and written
  * out when the run ends.
  *
  * A span is one call into a layer's public function (or one whole
  * operation, the parent of its layer spans). Every layer span gets its
  * own Spark job group and job tag; the listener attributes each job,
  * and the tasks of the stages that job submitted, to the span whose tag
  * it carries. Job tags survive the SQL broadcast threads, which replace
  * the job group with their own. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock the scheduler stamps job start/end events with. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.ArrayBuffer.empty[Counter]

  // listener state — written on the listener-bus thread
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val stageTag = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]

  private def acc(tag: String): Acc = accs.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    tags.find(_.startsWith(TagPrefix)).foreach { t =>
      jobTag(e.jobId) = t
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, t))
      acc(t).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.get(e.jobId).foreach(t => acc(t).jobIntervals += ((jobStartMs(e.jobId), e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val a = acc(t)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Run `body` as one span. A span with `tagJobs` owns a job tag and
    * group, so its jobs and tasks are attributed to it. */
  def span[T](name: String, op: Int, parent: Int, tagJobs: Boolean)(body: Span => T): (T, Span) = {
    val s = Span(spans.length, name, parent, op, nowMs, 0.0, gcMs, 0L)
    spans += s
    val tag = s"$TagPrefix${s.id}"
    if (tagJobs) {
      sc.setJobGroup(tag, s"$name op $op", interruptOnCancel = false)
      sc.addJobTag(tag)
    }
    try {
      val r = body(s)
      (r, s)
    } finally {
      if (tagJobs) {
        sc.removeJobTag(tag)
        sc.clearJobGroup()
      }
      s.endMs = nowMs
      s.gcEndMs = gcMs
    }
  }

  def count(s: Span, name: String, value: Double): Unit = counters += Counter(s.id, name, value)

  /** Wait for the listener bus to deliver every posted event, so the
    * per-span sums are complete. */
  def drain(): Unit = SparkBus.drain(sc)

  def stats(s: Span): SpanStats = synchronized {
    val a = accs.getOrElse(s"$TagPrefix${s.id}", new Acc)
    // union of this span's job intervals, clipped to the span
    val iv = a.jobIntervals.map { case (b, e) => (b.toDouble.max(s.startMs), e.toDouble.min(s.endMs)) }
      .filter { case (b, e) => e > b }.sortBy(_._1)
    var covered = 0.0
    var curB = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (b, e) =>
      if (curB.isNaN || b > curE) {
        if (!curB.isNaN) covered += curE - curB
        curB = b; curE = e
      } else curE = curE.max(e)
    }
    if (!curB.isNaN) covered += curE - curB
    val wallMs = s.endMs - s.startMs
    SpanStats(wallMs / 1e3, a.jobs, a.tasks, a.taskMs / 1e3, (s.gcEndMs - s.gcStartMs) / 1e3,
      a.shuffleWriteBytes, a.spillBytes, ((wallMs - covered).max(0.0)) / 1e3,
      a.inputBytes, a.outputBytes)
  }

  /** Spans (name, start, end, parent), their listener sums, and the
    * counters, as one JSON document. */
  def toJson: String = {
    val sp = spans.map { s =>
      val st = stats(s)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "parent" -> Json.num(s.parent),
        "op" -> Json.num(s.op), "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "jobs" -> Json.num(st.jobs), "tasks" -> Json.num(st.tasks), "task_s" -> Json.num(st.taskS),
        "gc_s" -> Json.num(st.gcS), "shuffle_write_bytes" -> Json.num(st.shuffleWriteBytes),
        "spill_bytes" -> Json.num(st.spillBytes), "driver_idle_s" -> Json.num(st.driverIdleS),
        "input_bytes" -> Json.num(st.inputBytes), "output_bytes" -> Json.num(st.outputBytes)))
    }
    val cs = counters.map(c =>
      Json.obj(Seq("span" -> Json.num(c.span), "name" -> Json.str(c.name), "value" -> Json.num(c.value))))
    Json.obj(Seq("spans" -> Json.arr(sp.toSeq), "counters" -> Json.arr(cs.toSeq)))
  }
}

object Tracer {
  val TagPrefix = "perfbench-span-"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startMs: Double, var endMs: Double, gcStartMs: Long, var gcEndMs: Long)

  final case class Counter(span: Int, name: String, value: Double)

  final case class SpanStats(wallS: Double, jobs: Long, tasks: Long, taskS: Double, gcS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, driverIdleS: Double,
      inputBytes: Long, outputBytes: Long)

  private final class Acc {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
}
