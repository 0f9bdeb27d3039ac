package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the index of the timed op it ran
  * under (-1 outside the timed sequence). Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, op: Int) {
  def ms: Double = (end - start) / 1e6
  def contains(o: Span): Boolean =
    o.id != id && start <= o.start && o.end <= end &&
      (o.start != start || o.end != end || o.id > id)
}

/** Spark work of one job, summed over its completed stages. */
final case class JobRec(id: Int, startNs: Long, endNs: Long, spanId: Int,
    taskRunMs: Double, cpuMs: Double, gcMs: Double, inputBytes: Long,
    inputRecords: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** Records spans around the benchmark's calls into the program, and (via
  * [[Ledger]]) the Spark jobs those calls ran. Disabled, `span` is a plain
  * call: untraced runs pay one branch per call.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var op: Int = -1
  private var sc: SparkContext = null
  private var ledger: Ledger = null

  /** Attach a job ledger to a context (trace runs only). */
  def attach(context: SparkContext): Unit = {
    detach()
    sc = context
    ledger = new Ledger(System.nanoTime(), System.currentTimeMillis())
    sc.addSparkListener(ledger)
  }

  /** Drain the listener bus, detach, and return the jobs seen. Fails if a
    * job start has no job end: the ledger would under-count.
    */
  def detach(): Seq[JobRec] =
    if (ledger == null) Nil
    else {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(ledger)
      val jobs = ledger.jobs()
      ledger = null
      sc = null
      jobs
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val ctx = sc
      val prev = if (ctx != null) ctx.getLocalProperty(Ledger.SpanKey) else null
      if (ctx != null) ctx.setLocalProperty(Ledger.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), op))
        if (ctx != null) ctx.setLocalProperty(Ledger.SpanKey, prev)
      }
    }

  /** A span measured elsewhere (e.g. on the stream's own thread). */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, start, end, op))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, -s.end))

  def clear(): Unit = spans.clear()
}

/** The benchmark's own SparkListener: job intervals and each completed
  * stage's task metrics, keyed back to the job that ran the stage.
  */
final class Ledger(nano0: Long, epochMs0: Long) extends SparkListener {
  import Ledger.{Start, StageM}
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Start]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageM]()

  private def toNs(epochMs: Long): Long = nano0 + (epochMs - epochMs0) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Ledger.SpanKey))).map(_.toInt).getOrElse(-1)
    starts.put(e.jobId, Start(toNs(e.time), span, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    ends.put(e.jobId, toNs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.put(e.stageInfo.stageId, StageM(
      m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
      m.jvmGCTime.toDouble, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobs(): Seq[JobRec] = {
    val open = starts.keySet.asScala.filterNot(ends.containsKey)
    require(open.isEmpty,
      s"listener saw job start without job end for jobs ${open.toSeq.sorted.mkString(",")}")
    val seen = scala.collection.mutable.HashSet[Int]()
    starts.asScala.toSeq.sortBy(_._1).map { case (id, s) =>
      val ms = s.stages.filter(seen.add).flatMap(st => Option(stages.get(st)))
      JobRec(id, s.startNs, ends.get(id), s.spanId,
        ms.map(_.runMs).sum, ms.map(_.cpuMs).sum, ms.map(_.gcMs).sum,
        ms.map(_.in).sum, ms.map(_.inRec).sum, ms.map(_.shR).sum,
        ms.map(_.shW).sum, ms.map(_.spill).sum)
    }
  }
}

object Ledger {
  val SpanKey = "perfbench.span"
  private final case class Start(startNs: Long, spanId: Int, stages: Seq[Int])
  private final case class StageM(runMs: Double, cpuMs: Double, gcMs: Double,
      in: Long, inRec: Long, shR: Long, shW: Long, spill: Long)
}

/** Charges jobs to spans and sums what the per-layer metrics need. A job
  * belongs to the span whose id its submitting thread carried; a job from
  * another thread (the stream's) to the innermost span open at its start.
  */
final class Attribution(val spans: Seq[Span], val jobs: Seq[JobRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  /** innermost enclosing span of each span, by interval containment */
  val parent: Map[Int, Int] = spans.flatMap { s =>
    spans.filter(_.contains(s)).sortBy(p => p.end - p.start).headOption
      .map(p => s.id -> p.id)
  }.toMap

  private val owner: Map[Int, Int] = jobs.flatMap { j =>
    if (byId.contains(j.spanId)) Some(j.id -> j.spanId)
    else spans.filter(s => s.start <= j.startNs && j.startNs <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(s => j.id -> s.id)
  }.toMap

  /** Jobs charged to some span. */
  def charged: Int = owner.size

  private def ancestors(id: Int): Iterator[Int] =
    Iterator.iterate(Option(id))(_.flatMap(parent.get)).takeWhile(_.isDefined).map(_.get)

  /** Jobs charged to `s` or to any span inside it. */
  def jobsUnder(s: Span): Seq[JobRec] =
    jobs.filter(j => owner.get(j.id).exists(o => ancestors(o).contains(s.id)))

  /** Span wall minus the time its own jobs were running (union of job
    * intervals, clipped to the span).
    */
  def driverOnlyMs(s: Span): Double = s.ms - unionMs(jobsUnder(s).map(j =>
    (math.max(j.startNs, s.start), math.min(j.endNs, s.end))))

  /** The part of `s` its direct child spans do not cover. */
  def unattributedMs(s: Span): Double =
    s.ms - unionMs(spans.filter(c => parent.get(c.id).contains(s.id))
      .map(c => (c.start, c.end)))

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1e6
  }
}
