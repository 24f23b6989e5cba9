package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.DurableStore

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val acct: Option[Accounting],
                val inputs: Inputs, val inputPath: Path, val runDir: Path,
                val seconds: Double, val cores: Int, val report: Report) {
  val seed: Long = inputs.seed
  def rnd(stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(MHash.mix(seed * 1000003L + stream))
  def inputFrame = spark.read.parquet(inputPath.toString)

  /** Flip tracing on and off in `sliceMs` slices while `body` runs, so a
    * traced run measures the same operations recorded and unrecorded. */
  def sliceTracing(sliceMs: Long)(body: => Unit): Unit = {
    if (!tracer.enabled) { body; return }
    @volatile var done = false
    val t = new Thread(() => {
      while (!done) {
        try Thread.sleep(sliceMs) catch { case _: InterruptedException => }
        tracer.on = !tracer.on
      }
    }, "perfbench-trace-slicer")
    t.setDaemon(true)
    tracer.on = true
    t.start()
    try body
    finally { done = true; t.interrupt(); t.join(); tracer.on = true }
  }

  /** Run `threads` client threads and wait for all of them. */
  def closedLoop(threads: Int)(client: Int => Unit): Unit = {
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => client(i), s"perfbench-client-$i")
      t.start(); t
    }
    ts.foreach(_.join())
  }
}

object Gc {
  private def beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def snapshot(): (Long, Long) =
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
}

/** The benchmark of record: served reads, read-while-write ingest and
  * Spark analytics over a freshly built `DurableStore`. See
  * `perfbench/README.md` for workloads, metrics and the layer map.
  *
  * Usage: `Main --workload <serve-read|ingest-mixed|analytics> --seed <n>
  * --seconds <s> --trace <0|1>`, from the repository root. The last stdout
  * line is the result object. */
object Main {
  val Workloads = Seq("serve-read", "ingest-mixed", "analytics")
  /** End-to-end metrics every workload reports (README.md defines each
    * per workload). */
  val E2E = Seq("setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s", "retained_heap_mb" -> "MB")
  /** Scale factor of the generated input (60k edges). */
  val Scale = 0.01
  /** Store builds in set-up; `setup_s` is their median. */
  val Builds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(".bench_run").toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(runDir)

    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    var exit = 0
    try {
      val tracer = new Tracer(trace, spark.sparkContext)
      tracer.on = false
      val acct = if (trace) Some(new Accounting(tracer)) else None
      acct.foreach(spark.sparkContext.addSparkListener)
      val inputs = new Inputs(seed, Scale)
      val inputDir = runDir.resolve("input")
      Inputs.deleteTree(inputDir)
      Files.createDirectories(inputDir)
      val inputPath = inputs.writeParquet(spark, inputDir)
      val ctx = new Ctx(spark, tracer, acct, inputs, inputPath, runDir, seconds, cores, report)
      report.info ++= Seq("workload" -> workload, "seed" -> seed.toString, "sf" -> Scale.toString,
        "fixture_fingerprint" -> Inputs.fingerprint(inputDir), "nproc" -> cores.toString,
        "input_edges" -> inputs.edges.toString, "trace" -> (if (trace) "1" else "0"))

      val store = setup(ctx)
      val gc0 = Gc.snapshot()
      workload match {
        case "serve-read" => ServeRead.run(ctx, store)
        case "ingest-mixed" => IngestMixed.run(ctx, store)
        case "analytics" => Analytics.run(ctx, store)
      }
      val gc1 = Gc.snapshot()
      report.layer("jvm.gc_ms") = ((gc1._1 - gc0._1).toDouble, "ms")
      report.layer("jvm.gc_count") = ((gc1._2 - gc0._2).toDouble, "count")
      if (trace) { Layers.fromSpans(ctx); writeTrace(ctx, workload, seed) }
      val heapMb = retainedHeapMb()
      report.detail("retained_heap_mb") = (heapMb, "MB")
      report.e2e("retained_heap_mb") = (heapMb, "MB")
      report.detail("ops_failed_frac") =
        (report.failed.toDouble / math.max(1L, report.attempted), "fraction")
      Inputs.deleteTree(Paths.get(store.root).getParent)
      Inputs.deleteTree(inputDir)
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] run aborted: $t")
        t.printStackTrace()
        exit = 1
    } finally {
      spark.stop()
    }
    if (exit == 0) printResult(report, trace) else sys.exit(exit)
  }

  /** [[Builds]] independent store builds (create + in-edge index + footer
    * warm-up), each in a fresh root; `setup_s` is their median. The last
    * one serves the workload. */
  private def setup(ctx: Ctx): DurableStore = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var store: DurableStore = null
    for (b <- 1 to Builds) {
      val root = ctx.runDir.resolve("stores").resolve(s"b$b")
      Inputs.deleteTree(root)
      val t0 = System.nanoTime()
      val st = DurableStore.create(ctx.spark, ctx.inputFrame, root.toString)
      val v = st.buildInEdgeIndex(1, targetFileRows = 256L << 10)
      val w0 = System.nanoTime()
      st.warmServing(v)
      val t1 = System.nanoTime()
      require(v == 2, s"buildInEdgeIndex committed version $v, expected 2")
      times += (t1 - t0) / 1e9
      ctx.report.layer("meta.warm_serving_ms") = ((t1 - w0) / 1e6, "ms")
      if (store != null) Inputs.deleteTree(Paths.get(store.root))
      store = st
    }
    val s = Stats.median(times.toSeq)
    ctx.report.e2e("setup_s") = (s, "s")
    ctx.report.detail("setup_s") = (s, "s")
    ctx.report.info("setup_builds_s") = times.map(t => f"$t%.3f").mkString(",")
    store
  }

  private def writeTrace(ctx: Ctx, workload: String, seed: Long): Unit = {
    val p = ctx.runDir.resolve(s"trace-$workload-seed$seed.jsonl")
    val spans = SpanStats.all(ctx.tracer)
    SpanStats.write(p, spans)
    ctx.report.layer("trace.spans") = (spans.size.toDouble, "count")
    ctx.report.info("trace_file") = p.toString
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def printResult(r: Report, trace: Boolean): Unit = {
    r.info.foreach { case (k, v) => println(s"info $k $v") }
    r.failures.asScala.foreach(f => println(s"failure $f"))
    r.detail.foreach { case (k, (v, u)) => println(s"metric $k ${num(v)} $u") }
    if (trace) r.layer.foreach { case (k, (v, u)) => println(s"layer $k ${num(v)} $u") }
    val ms = (if (trace) Layers.All.map { case (k, u) => (k, r.layer.getOrElse(k, (0.0, u))) }
      else E2E.map { case (k, u) => (k, r.e2e(k)) }).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, """ +
      s""""failed": ${r.failed}, "metrics": {$ms}}""")
  }
}
