package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import graft.DurableStore

/** Exact per-vertex answers of the immutable serving version, computed
  * once from the distributed read: out/in degree, multiset hashes of
  * out/in neighbor ids, and the multiset hash of the full out-rows. */
final class VertexModel(val outN: Long, val outH: Long, val inN: Long, val inH: Long,
                        val rowsH: Long)

object ServeRead {
  val Ops = Array("point_read", "neighbors", "fof", "degrees", "shortest_path")
  private val Cum = Array(0.35, 0.65, 0.90, 0.95, 1.0)
  val Threads = 2
  val Version = 2
  /** Zipf ranks whose FoF answer is precomputed by the one-job path. */
  val FofChecked = 8

  def model(ctx: Ctx, store: DurableStore, v: Int): java.util.HashMap[Long, VertexModel] = {
    val acc = new java.util.HashMap[Long, Array[Long]]()
    def cell(k: Long) = acc.computeIfAbsent(k, _ => new Array[Long](5))
    val it = store.read(v).select(ctx.inputs.cols.map(org.apache.spark.sql.functions.col): _*)
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val src = r.getLong(0); val dst = r.getLong(1)
      val o = cell(src); o(0) += 1; o(1) += MHash.mix(dst); o(4) += MHash.row(r.toSeq)
      val i = cell(dst); i(2) += 1; i(3) += MHash.mix(src)
    }
    val out = new java.util.HashMap[Long, VertexModel]()
    acc.forEach((k, a) => out.put(k, new VertexModel(a(0), a(1), a(2), a(3), a(4))))
    out
  }

  private val Empty = new VertexModel(0, 0, 0, 0, 0)

  def run(ctx: Ctx, store: DurableStore): Unit = {
    val rep = ctx.report
    val ids = ctx.inputs.permutation(ctx.rnd(1))
    val zipf = new Zipf(ids.length, 1.0)
    val m = model(ctx, store, Version)
    rep.check(m.values().stream().mapToLong(_.outN).sum() == ctx.inputs.edges,
      s"read($Version) row count differs from the ${ctx.inputs.edges} generated edges")
    def vm(k: Long) = { val x = m.get(k); if (x == null) Empty else x }
    val fofExpected: Map[Long, Seq[(Long, Long)]] = ids.take(FofChecked).map { k =>
      k -> store.servedFof(Version, k, localFileBudget = 0).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }.toMap
    val seen = new ConcurrentHashMap[String, java.lang.Long]()
    def repeatable(key: String, h: Long): Option[String] = {
      val prev = seen.putIfAbsent(key, h)
      if (prev == null || prev.longValue() == h) None
      else Some(s"$key answered differently on the immutable version")
    }

    // lat(op)(traced?) per client thread
    val lat = Array.fill(Threads, Ops.length, 2)(new LongBuf)
    val rows = Array.fill(Threads, Ops.length)(0L)
    val refused = Array.fill(Threads, Ops.length)(0L)
    // every call, and the untraced calls the end-to-end metrics use
    val logAll = Array.fill(Threads)(new OpLog)
    val logUntraced = Array.fill(Threads)(new OpLog)
    val tr = ctx.tracer
    System.gc() // measure from the same heap state every run: set-up garbage collected
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    ctx.sliceTracing(500) {
      ctx.closedLoop(Threads) { c =>
        val rnd = ctx.rnd(100 + c)
        def key() = ids(zipf.sample(rnd))
        def keys() = Array.fill(1 + rnd.nextInt(16))(key()).distinct
        var n = 0L
        while (System.nanoTime() < deadline) {
          val u = rnd.nextDouble()
          var op = 0
          while (Cum(op) < u) op += 1
          val req = tr.newRequest()
          val traced = tr.on
          if (traced && n % 8 == 0) tr.span("meta", "manifest", req) {
            val man = store.manifest(Version)
            MetaStats.entries(man)
          }
          n += 1
          val out = Ops(op)
          var err: Option[String] = None
          var nrows = 0L
          val s0 = System.nanoTime()
          try op match {
            case 0 =>
              val k = key()
              val r = tr.span("serve", out, req)(store.pointReadLocal(Version, k))
              nrows = r.size
              val x = vm(k)
              if (r.size != x.outN || MHash.rows(r) != x.rowsH)
                err = Some(s"point_read($k) != distributed read")
            case 1 =>
              val ks = keys()
              val isOut = rnd.nextBoolean()
              val r = tr.span("serve", out, req)(
                if (isOut) store.servedOutNeighbors(Version, ks) else store.servedInNeighbors(Version, ks))
              r match {
                case None => err = Some(s"neighbors refused"); refused(c)(op) += 1
                case Some(a) =>
                  nrows = a.length
                  val (en, eh) = ks.foldLeft((0L, 0L)) { case ((n0, h0), k) =>
                    val x = vm(k)
                    if (isOut) (n0 + x.outN, h0 + x.outH) else (n0 + x.inN, h0 + x.inH)
                  }
                  if (a.length != en || MHash.longs(a) != eh)
                    err = Some(s"neighbors(${ks.mkString(",")}, out=$isOut) != distributed read")
              }
            case 2 =>
              val k = key()
              tr.span("serve", out, req)(store.servedFofRows(Version, k)) match {
                case None => err = Some(s"fof($k) refused"); refused(c)(op) += 1
                case Some(r) =>
                  nrows = r.size
                  err = fofExpected.get(k) match {
                    case Some(e) => if (e == r) None else Some(s"fof($k) != one-job servedFof")
                    case None => repeatable(s"fof($k)", r.hashCode.toLong)
                  }
              }
            case 3 =>
              val ks = keys()
              tr.span("serve", out, req)(store.servedDegrees(Version, ks)) match {
                case None => err = Some("degrees refused"); refused(c)(op) += 1
                case Some(r) =>
                  nrows = r.size
                  val ok = r.size == ks.length && r.forall { case (id, o, i) =>
                    val x = vm(id); o == x.outN && i == x.inN
                  }
                  if (!ok) err = Some(s"degrees(${ks.mkString(",")}) != distributed read")
              }
            case 4 =>
              val a = key(); val b = key()
              tr.span("serve", out, req)(store.servedShortestPath(Version, a, b)) match {
                case None => err = Some(s"shortest_path($a,$b) refused"); refused(c)(op) += 1
                case Some(d) =>
                  nrows = 1
                  err = repeatable(s"sp($a,$b)", d.getOrElse(-1L))
              }
          } catch { case e: Exception => err = Some(s"$out threw $e") }
          val s1 = System.nanoTime()
          lat(c)(op)(if (traced) 1 else 0) += s1 - s0
          logAll(c) += (s1, s1 - s0)
          if (!traced) logUntraced(c) += (s1, s1 - s0)
          rows(c)(op) += nrows
          rep.op(err)
        }
      }
    }
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9

    def all(op: Int, mode: Int*) = Stats.concat(for (c <- 0 until Threads; md <- mode) yield lat(c)(op)(md))
    val every = (0 until Ops.length).flatMap(op => all(op, 0, 1)).toArray
    // end-to-end metrics come from the untraced calls; in a traced run
    // only half the calls are untraced, which is enough for the overhead
    val untraced = (0 until Ops.length).flatMap(op => all(op, 0)).toArray
    val win = new Windows(1000000000L)
    rep.e2e("op_p50_ms") = (win.latencyMs(t0, t1, logUntraced, 0.5), "ms")
    rep.e2e("op_tail_ms") = (win.latencyMs(t0, t1, logUntraced, 0.9), "ms")
    rep.e2e("throughput_per_s") = (win.rate(t0, t1, logAll), "1/s")
    rep.detail("point_read_p50_ms") = (Stats.pctMs(all(0, 0), 0.5), "ms")
    rep.detail("point_read_p99_ms") = (Stats.pctMs(all(0, 0), 0.99), "ms")
    rep.detail("fof_p50_ms") = (Stats.pctMs(all(2, 0), 0.5), "ms")
    rep.detail("fof_p99_ms") = (Stats.pctMs(all(2, 0), 0.99), "ms")
    rep.detail("serve_ops_per_s") = (every.length / wall, "1/s")
    rep.info("client_threads") = Threads.toString
    rep.info("writer_threads") = "0"
    rep.info("samples") = Ops.indices.map(op => s"${Ops(op)}=${all(op, 0, 1).length}").mkString(",")
    Ops.indices.foreach { op =>
      val n = all(op, 0, 1).length
      rep.layer(s"serve.${Ops(op)}.calls") = (n.toDouble, "count")
      rep.layer(s"serve.${Ops(op)}.rows_per_call") =
        ((0 until Threads).map(rows(_)(op)).sum.toDouble / math.max(1, n), "rows")
      rep.layer(s"serve.refused.${Ops(op)}") = ((0 until Threads).map(refused(_)(op)).sum.toDouble, "count")
    }
    if (ctx.tracer.enabled)
      Layers.overhead(ctx, Stats.pctMs(untraced, 0.5),
        Stats.pctMs((0 until Ops.length).flatMap(op => all(op, 1)).toArray, 0.5))
  }
}

/** Manifest size as the serving path sees it. */
object MetaStats {
  val maxEntries = new java.util.concurrent.atomic.AtomicLong
  def entries(m: DurableStore.Manifest): Long = {
    val n = (m.files.size + m.mirror.size + m.tombs.size).toLong
    maxEntries.accumulateAndGet(n, math.max)
    n
  }
}
