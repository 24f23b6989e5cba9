package graft.perfbench

/** Growable primitive long buffer (latency samples, per thread). */
final class LongBuf {
  private var a = new Array[Long](1024)
  private var n = 0
  def +=(x: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x; n += 1
  }
  def size: Int = n
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in [0, 1]); NaN when empty. */
  def pct(xs: Array[Long], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1))).toDouble
    }

  def pctMs(ns: Array[Long], q: Double): Double = pct(ns, q) / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def concat(bufs: Iterable[LongBuf]): Array[Long] = bufs.flatMap(_.toArray).toArray
}

/** Completion log of closed-loop operations: end time and latency of
  * each, so statistics can be taken per time window. */
final class OpLog {
  val end = new LongBuf
  val lat = new LongBuf
  def +=(endNs: Long, latNs: Long): Unit = { end += endNs; lat += latNs }
}

/** Statistics over whole time windows of a measured interval, reported
  * as the median across windows: a burst of contention from outside the
  * benchmark moves a few windows, not the median. Used on `serve-read`
  * only: on five seeds there (4 vCPUs) the IQR/median of p50 was 0.175
  * windowed vs 0.246 whole-run and of throughput 0.159 vs 0.217; on
  * `ingest-mixed` whole-run percentiles were the narrower (0.101 vs
  * 0.129), so it uses those. */
final class Windows(windowNs: Long) {
  private def perWindow(t0: Long, t1: Long, logs: Iterable[OpLog]): Seq[Array[Long]] = {
    val n = ((t1 - t0) / windowNs).toInt
    val ws = Array.fill(math.max(n, 0))(new LongBuf)
    logs.foreach { l =>
      val e = l.end.toArray; val x = l.lat.toArray
      var i = 0
      while (i < e.length) {
        val w = ((e(i) - t0) / windowNs).toInt
        if (w >= 0 && w < n) ws(w) += x(i)
        i += 1
      }
    }
    ws.map(_.toArray).toSeq
  }

  /** Median over windows of the latency percentile `q`, in ms. */
  def latencyMs(t0: Long, t1: Long, logs: Iterable[OpLog], q: Double): Double =
    Stats.median(perWindow(t0, t1, logs).filter(_.nonEmpty).map(Stats.pctMs(_, q)))

  /** Median over windows of completed operations per second. */
  def rate(t0: Long, t1: Long, logs: Iterable[OpLog]): Double =
    Stats.median(perWindow(t0, t1, logs).map(_.length * 1e9 / windowNs))
}

/** Metrics of one run: the contract metrics (end-to-end or per-layer,
  * depending on the trace mode), the named detail metrics, and the
  * correctness ledger. */
final class Report {
  val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val detail = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layer = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val info = scala.collection.mutable.LinkedHashMap[String, String]()
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong
  private val failedN = new java.util.concurrent.atomic.AtomicLong
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Count one operation; `err` = None when it succeeded and was right. */
  def op(err: Option[String]): Unit = {
    attemptedN.incrementAndGet()
    err.foreach { e =>
      failedN.incrementAndGet()
      if (failures.size < 20) failures.add(e)
    }
  }

  /** A correctness check that is not itself an operation. */
  def check(ok: Boolean, what: => String): Unit = op(if (ok) None else Some(what))
}
