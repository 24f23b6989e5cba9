package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a benchmark call into a layer, or a Spark job
  * caused by one. `parent` is the enclosing span (0 = none); spans of one
  * client request share `req`. Times are `System.nanoTime` based. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      req: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once when the run ends.
  *
  * `enabled` is fixed per run (`--trace 1`); `on` is flipped by the
  * workloads in alternating slices so one traced run measures the same
  * operations with and without recording — the difference is the
  * reported tracing overhead. Spans that may run Spark jobs tag the
  * calling thread with the span id as a local property; [[Accounting]]
  * attributes every job, stage and task to that span. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  @volatile var on: Boolean = enabled
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.Long]](
    () => new java.util.ArrayDeque[java.lang.Long]())
  private val reqIds = new AtomicLong(0)

  def newRequest(): Long = reqIds.incrementAndGet()

  /** Time `body` as a span of `layer`. With recording off this is a
    * plain call. */
  def span[T](layer: String, name: String, req: Long = 0L)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val st = stack.get()
    val parent = if (st.isEmpty) 0L else st.peek().longValue()
    val prevTag = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    st.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      st.pop()
      sc.setLocalProperty(Tracer.SpanProp, prevTag)
      spans.add(Span(id, parent, layer, name, req, t0, t1))
    }
  }

  def addJobSpan(s: Span): Unit = spans.add(s.copy(id = ids.incrementAndGet()))
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Span id carried by the listener-drain marker job. */
  val DrainTag = "-2"
}

/** Spark work attributed to one span (or, under key 0, to no span). */
final class SparkCost {
  val jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, input = new AtomicLong
}

/** Public-API [[SparkListener]] that attributes jobs, stages, tasks,
  * task time, shuffle, spill and input bytes to the benchmark span whose
  * thread started them, and records each job as a child span so layer
  * self time and driver time can subtract job intervals. */
final class Accounting(tracer: Tracer) extends SparkListener {
  private val nanoOrigin = System.nanoTime()
  private val milliOrigin = System.currentTimeMillis()
  private def toNanos(epochMs: Long): Long = nanoOrigin + (epochMs - milliOrigin) * 1000000L

  val bySpan = new ConcurrentHashMap[Long, SparkCost]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val drained = new ConcurrentHashMap[Int, CountDownLatch]()
  @volatile private var drainLatch: CountDownLatch = null

  private def cost(span: Long): SparkCost = bySpan.computeIfAbsent(span, _ => new SparkCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    if (tag.contains(Tracer.DrainTag)) { drained.put(e.jobId, drainLatch); return }
    val span = tag.map(_.toLong).getOrElse(0L)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, toNanos(e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    cost(span).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val latch = drained.remove(e.jobId)
    if (latch != null) { latch.countDown(); return }
    val span = jobSpan.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (span != null && t0 != null && span.longValue() != 0L)
      tracer.addJobSpan(Span(0L, span.longValue(), "spark", "job", 0L,
        t0.longValue(), math.max(t0.longValue(), toNanos(e.time))))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.get(e.stageInfo.stageId)
    if (span != null) cost(span.longValue()).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span == null) return
    val c = cost(span.longValue())
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs.addAndGet(m.executorRunTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Wait until every event posted before this call has reached the
    * listener: run a one-task marker job and wait for its end event. The
    * bus delivers one queue's events in order, so all earlier job, stage
    * and task events have been counted by then. */
  def drain(sc: SparkContext): Unit = synchronized {
    val latch = new CountDownLatch(1)
    drainLatch = latch
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, Tracer.DrainTag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanProp, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("Spark listener bus did not drain within 60 s")
  }

  /** Costs summed over the given spans. */
  def total(spanIds: Iterable[Long]): Map[String, Long] = {
    val cs = spanIds.flatMap(id => Option(bySpan.get(id)))
    def sum(f: SparkCost => AtomicLong): Long = cs.map(f(_).get).sum
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "task_ms" -> sum(_.taskMs), "shuffle_read_bytes" -> sum(_.shuffleRead),
      "shuffle_write_bytes" -> sum(_.shuffleWrite), "spill_bytes" -> sum(_.spill),
      "input_bytes" -> sum(_.input))
  }
}

/** Offline analysis of recorded spans. */
object SpanStats {
  /** Length of the union of `[start, end)` intervals, in ns. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover (clipped to the span). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(x => x._2 > x._1)
      s.id -> (s.durNs - unionNs(iv))
    }.toMap
  }

  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  def all(t: Tracer): Seq[Span] = t.spans.asScala.toSeq
}
