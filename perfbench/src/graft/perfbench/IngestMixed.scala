package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions.lit

import graft.{DurableStore, Tables}

/** Read-while-write: one writer committing seeded cycles of mutations
  * (append / tombstone delete / delta update, each followed by
  * `compactIfPressured`) beside two closed-loop
  * readers serving point reads and FoF on the newest version. */
object IngestMixed {
  val Readers = 2
  val AppendEdges = 4096
  val NewCustomerShare = 0.10
  /** One write cycle: the 70/20/10 append/tombstone/update mix as a
    * seeded order of six appends, two tombstone deletes and one update,
    * then a seventh append that pushes the pending delta rows past
    * [[CompactDeltaRows]], so the cycle ends in one compaction. Every run
    * measures whole, equally composed cycles: compaction cost depends on
    * the tombstones it reclaims, and a random mix made it swing 2.5x. */
  val CycleHead: Array[Int] = Array(0, 0, 0, 0, 0, 0, 1, 1, 2)
  /** The store's default trigger (512k rows) needs more commits than one
    * run makes; the file and tombstone triggers keep their defaults. */
  val CompactDeltaRows: Long = AppendEdges * 13L / 2
  /** Bytes per row of the edge schema (`StructType.defaultSize`). */
  private def userBytes(ctx: Ctx, rows: Long): Long = rows * ctx.inputs.schema.defaultSize

  private def pack(src: Long, dst: Long): Long = (src << 21) | (dst - Tables.SupplierBase)
  private def unpack(k: Long): (Long, Long) = (k >>> 21, (k & ((1L << 21) - 1)) + Tables.SupplierBase)

  def run(ctx: Ctx, store: DurableStore): Unit = {
    val rep = ctx.report
    val tr = ctx.tracer
    val spark = ctx.spark
    val root = Paths.get(store.root)

    // the writer's model: multiplicity of every (src, dst) pair, and the
    // pairs ever seen (deletion candidates, lazily pruned)
    val model = mutable.HashMap[Long, Int]()
    val candidates = mutable.ArrayBuffer[Long]()
    def addEdge(src: Long, dst: Long): Unit = {
      val k = pack(src, dst)
      val n = model.getOrElse(k, 0) + 1
      model(k) = n
      if (n == 1) candidates += k
    }
    locally {
      val it = ctx.inputFrame.select("src", "dst").toLocalIterator()
      while (it.hasNext) { val r = it.next(); addEdge(r.getLong(0), r.getLong(1)) }
    }
    var liveRows = ctx.inputs.edges
    val ids = ctx.inputs.vertexIds
    val bytes0 = Inputs.bytesUnder(root)
    val files0 = Files.walk(root).filter(Files.isRegularFile(_)).count()
    val v0 = store.currentVersion

    System.gc() // measure from the same heap state every run: set-up garbage collected
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    // the writer stops at the first compaction past the deadline, so every
    // run measures whole commit-and-compact cycles; readers run until then
    @volatile var writing = true
    // reader latencies: (op)(traced?) per thread; op 0 = point_read, 1 = fof
    val lat = Array.fill(Readers, 2, 2)(new LongBuf)
    val firstRead = Array.fill(Readers)(new LongBuf)
    val commitNs = new LongBuf
    val compactNs = new LongBuf
    var appended = 0L
    var compactions = 0
    var maxDelta = 0L
    var maxTomb = 0L
    @volatile var vEnd = v0
    @volatile var writerError: Throwable = null

    val writer = new Thread(() => {
      val rnd = ctx.rnd(7)
      var nextNew = ctx.inputs.customers.toLong
      var v = v0
      def liveCandidate(): Long = {
        var k = 0L
        while (k == 0L) {
          val i = rnd.nextInt(candidates.size)
          val c = candidates(i)
          if (model.contains(c)) k = c
          else { candidates(i) = candidates.last; candidates.remove(candidates.size - 1) }
        }
        k
      }
      var cycleDone = false
      val hardStop = deadline + 90L * 1000000000L
      var cycle = Iterator.empty[Int]
      try while (System.nanoTime() < deadline || (!cycleDone && System.nanoTime() < hardStop)) {
        if (!cycle.hasNext) {
          val head = CycleHead.clone()
          for (i <- head.indices.reverse.dropRight(1)) {
            val j = rnd.nextInt(i + 1); val t = head(i); head(i) = head(j); head(j) = t
          }
          cycle = (head :+ 0).iterator
        }
        val kind = cycle.next()
        val req = tr.newRequest()
        var appendedRows: Array[org.apache.spark.sql.Row] = null
        val t0 = System.nanoTime()
        val nv = kind match {
          case 0 =>
            val (df, rows) = ctx.inputs.edgeBatch(spark, rnd, AppendEdges, NewCustomerShare,
              () => { nextNew += 1; nextNew })
            appendedRows = rows
            tr.span("write", "append", req)(store.append(v, df))
          case 1 =>
            val n = 1 + rnd.nextInt(64)
            val pairs = Iterator.continually(liveCandidate()).distinct.take(n).toSeq
            val r = tr.span("write", "tombstone", req)(
              store.deleteEdgesTombstone(v, pairs.map(unpack)))
            pairs.foreach(k => liveRows -= model.remove(k).getOrElse(0))
            r
          case 2 =>
            val (s, d) = unpack(liveCandidate())
            val w = 900.0 + rnd.nextInt(10000000) / 100.0
            tr.span("write", "update", req)(store.updateEdgeDelta(v, s, d, "weight", lit(w)))
        }
        val t1 = System.nanoTime()
        val cv = tr.span("write", "compact", req)(store.compactIfPressured(nv, deltaRowTrigger = CompactDeltaRows))
        val t2 = System.nanoTime()
        rep.check(nv > v, s"${Seq("append", "tombstone", "update")(kind)} on v$v committed no new version")
        commitNs += t2 - t0
        cycleDone = cv != nv
        if (cycleDone) { compactions += 1; compactNs += t2 - t1 }
        v = cv
        vEnd = cv
        if (appendedRows != null) {
          appended += appendedRows.length
          liveRows += appendedRows.length
          appendedRows.foreach(r => addEdge(r.getLong(0), r.getLong(1)))
          // read-your-write: the newest version serves a sampled appended edge
          val e = appendedRows(rnd.nextInt(appendedRows.length))
          val got = store.pointReadLocal(v, e.getLong(0))
          rep.check(got.exists(_ == e.toSeq), s"appended edge ${e.toSeq} missing from point_read on v$v")
        }
        val m = store.manifest(v)
        maxDelta = math.max(maxDelta, m.files.filterNot(_.sorted).map(_.rows).sum)
        maxTomb = math.max(maxTomb, m.tombs.map(_.rows).sum)
      } catch { case t: Throwable => writerError = t }
      finally writing = false
    }, "perfbench-writer")

    val t0 = System.nanoTime()
    ctx.sliceTracing(500) {
      writer.start()
      ctx.closedLoop(Readers) { c =>
        val rnd = ctx.rnd(200 + c)
        var lastV = -1
        var n = 0L
        while (writing) {
          val op = if (rnd.nextBoolean()) 0 else 1
          val k = ids(rnd.nextInt(ids.length))
          val req = tr.newRequest()
          val traced = tr.on
          var err: Option[String] = None
          val s0 = System.nanoTime()
          val v = try tr.span("meta", "current_version", req)(store.currentVersion)
            catch { case e: Exception => err = Some(s"currentVersion threw $e"); -1 }
          if (v > 0) try {
            if (op == 0) tr.span("serve", "point_read", req)(store.pointReadLocal(v, k))
            else tr.span("serve", "fof", req)(store.servedFofRows(v, k)) match {
              case None => err = Some(s"fof($k) refused on v$v")
              case Some(_) =>
            }
          } catch { case e: Exception => err = Some(s"${if (op == 0) "point_read" else "fof"} threw $e") }
          val s1 = System.nanoTime()
          lat(c)(op)(if (traced) 1 else 0) += s1 - s0
          if (v != lastV && lastV != -1) firstRead(c) += s1 - s0
          lastV = v
          if (traced && n % 8 == 0 && v > 0) tr.span("meta", "manifest", req)(MetaStats.entries(store.manifest(v)))
          n += 1
          rep.op(err)
        }
      }
      writer.join()
    }
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    if (writerError != null) throw writerError
    val commits = commitNs.size
    rep.check(commits > 0, "the writer committed nothing")

    // durability and the edge-count model
    val end = vEnd
    rep.check(store.read(end).count() == liveRows, s"read(v$end).count() != writer model $liveRows")
    val reopened = new DurableStore(spark, store.root)
    rep.check(reopened.currentVersion == end, s"reopened store reports v${reopened.currentVersion}, expected v$end")
    rep.check(reopened.read(end).count() == liveRows, "reopened store count != writer model")

    val man = store.manifest(end)
    val manBytes = ((man.files ++ man.mirror).map(_.path) ++ man.tombs.map(_.path))
      .distinct.map(p => Inputs.bytesUnder(
        if (p.startsWith("file:")) Paths.get(new java.net.URI(p)) else Paths.get(p))).sum
    val bytes1 = Inputs.bytesUnder(root)
    val files1 = Files.walk(root).filter(Files.isRegularFile(_)).count()
    val vac0 = System.nanoTime()
    store.vacuum(end)
    val vacMs = (System.nanoTime() - vac0) / 1e6
    val bytes2 = Inputs.bytesUnder(root)

    def rd(op: Int, mode: Int*) = Stats.concat(for (c <- 0 until Readers; md <- mode) yield lat(c)(op)(md))
    val untraced = rd(0, 0) ++ rd(1, 0)
    val allReads = rd(0, 0, 1).length + rd(1, 0, 1).length
    val writerS = commitNs.toArray.sum / 1e9
    rep.e2e("op_p50_ms") = (Stats.pctMs(untraced, 0.5), "ms")
    rep.e2e("op_tail_ms") = (Stats.pctMs(untraced, 0.9), "ms")
    rep.e2e("throughput_per_s") = (appended / writerS, "1/s")
    rep.detail("point_read_p50_ms") = (Stats.pctMs(rd(0, 0), 0.5), "ms")
    rep.detail("point_read_p99_ms") = (Stats.pctMs(rd(0, 0), 0.99), "ms")
    rep.detail("fof_p50_ms") = (Stats.pctMs(rd(1, 0), 0.5), "ms")
    rep.detail("fof_p99_ms") = (Stats.pctMs(rd(1, 0), 0.99), "ms")
    rep.detail("serve_ops_per_s") = (allReads / wall, "1/s")
    rep.detail("ingest_edges_per_s") = (appended / writerS, "1/s")
    rep.detail("commit_p50_ms") = (Stats.pctMs(commitNs.toArray, 0.5), "ms")
    rep.detail("commit_p90_ms") = (Stats.pctMs(commitNs.toArray, 0.9), "ms")
    rep.detail("store_bytes_per_user_byte") = (manBytes.toDouble / userBytes(ctx, liveRows), "ratio")
    rep.info("client_threads") = Readers.toString
    rep.info("writer_threads") = "1"
    rep.info("samples") = s"point_read=${rd(0, 0, 1).length},fof=${rd(1, 0, 1).length},commits=$commits"
    rep.info("vacuum_ms") = f"$vacMs%.1f"

    rep.layer("serve.point_read.calls") = (rd(0, 0, 1).length.toDouble, "count")
    rep.layer("serve.fof.calls") = (rd(1, 0, 1).length.toDouble, "count")
    rep.layer("serve.first_read_after_commit_ms.p50") =
      (Stats.pctMs(Stats.concat(firstRead), 0.5), "ms")
    rep.layer("write.compactions") = (compactions.toDouble, "count")
    rep.layer("write.compact_ms.p50") = (Stats.pctMs(compactNs.toArray, 0.5), "ms")
    rep.layer("write.bytes_per_user_byte") =
      ((bytes1 - bytes0).toDouble / math.max(1L, userBytes(ctx, appended)), "ratio")
    rep.layer("write.files_per_commit") = ((files1 - files0).toDouble / commits, "count")
    rep.layer("write.delta_rows_pending.max") = (maxDelta.toDouble, "rows")
    rep.layer("write.tomb_rows_pending.max") = (maxTomb.toDouble, "rows")
    rep.layer("write.vacuum_reclaimed_bytes") = ((bytes1 - bytes2).toDouble, "bytes")
    if (tr.enabled)
      Layers.overhead(ctx, Stats.pctMs(untraced, 0.5), Stats.pctMs(rd(0, 1) ++ rd(1, 1), 0.5))
  }
}
