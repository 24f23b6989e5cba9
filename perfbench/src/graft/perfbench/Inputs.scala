package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Everything the program under test receives is generated here from the
  * seed. The edge table has the shape of the TPC-H-style order graph that
  * `Tables.orderEdges` derives at scale factor `sf` (0.1: 150k orders of 4
  * lineitems = 600k edges, 15k customers -> 1k suppliers) and the same
  * all-primitive schema `src, dst, etype, ets, weight, rating`. */
final class Inputs(val seed: Long, val sf: Double) {
  val customers: Int = math.max(10, math.round(150000 * sf).toInt)
  val suppliers: Int = math.max(4, math.round(10000 * sf).toInt)
  val orders: Long = math.max(10L, math.round(1500000 * sf))
  val edgesPerOrder = 4
  val edges: Long = orders * edgesPerOrder

  val schema: StructType = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("etype", IntegerType, nullable = false),
    StructField("ets", LongType, nullable = false),
    StructField("weight", DoubleType, nullable = false),
    StructField("rating", IntegerType, nullable = false)))
  val cols: Seq[String] = schema.fieldNames.toSeq

  /** Every vertex id of the input: customers, then suppliers. */
  val vertexIds: Array[Long] =
    (1L to customers).toArray ++ (1L to suppliers).map(Tables.SupplierBase + _)

  private val Day = 86400000L
  private val Epoch1992 = 694224000000L

  /** The edge table as a Spark plan, a pure function of (seed, id). */
  def edgeFrame(spark: SparkSession): DataFrame = {
    def h(salt: Int, c: org.apache.spark.sql.Column) = xxhash64(lit(seed), lit(salt), c)
    val order = floor(col("id") / edgesPerOrder)
    spark.range(edges).select(
      (pmod(h(1, order), lit(customers.toLong)) + 1).as("src"),
      (pmod(h(2, col("id")), lit(suppliers.toLong)) + 1 + Tables.SupplierBase).as("dst"),
      lit(0).as("etype"),
      (pmod(h(3, order), lit(2400L)) * Day + Epoch1992).as("ets"),
      (pmod(h(4, col("id")), lit(10000000L)) / 100.0 + 900.0).as("weight"),
      (pmod(h(5, col("id")), lit(5L)) + 1).cast("int").as("rating"))
  }

  /** Write the input table as one parquet file `dir/edges.parquet` (the
    * load the store is built from) and return the file's path. */
  def writeParquet(spark: SparkSession, dir: Path): Path = {
    val tmp = dir.resolve("_write")
    edgeFrame(spark).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    val out = dir.resolve("edges.parquet")
    Files.move(part, out)
    Inputs.deleteTree(tmp)
    out
  }

  /** Batch of generated edges as a local frame: `newCustomerShare` of them
    * start at customer ids past the input's range. */
  def edgeBatch(spark: SparkSession, rnd: java.util.SplittableRandom, n: Int,
                newCustomerShare: Double, nextNewCustomer: () => Long): (DataFrame, Array[Row]) = {
    val rows = Array.tabulate(n) { _ =>
      val src =
        if (rnd.nextDouble() < newCustomerShare) nextNewCustomer()
        else 1L + rnd.nextInt(customers)
      Row(src, Tables.SupplierBase + 1 + rnd.nextInt(suppliers), 0,
        Epoch1992 + rnd.nextInt(2400) * Day, 900.0 + rnd.nextInt(10000000) / 100.0,
        1 + rnd.nextInt(5))
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), rows)
  }

  /** Seeded rank order of all vertex ids for Zipf key draws. Customers
    * and suppliers are shuffled separately and interleaved in a fixed
    * pattern (every `stride`-th rank is a supplier), so the hot ranks have
    * the same customer/supplier mix under every seed: suppliers are
    * ~40x costlier to traverse, and a seed that happened to make a
    * supplier the hottest key would otherwise move every latency. */
  def permutation(rnd: java.util.SplittableRandom): Array[Long] = {
    def shuffled(a: Array[Long]): Iterator[Long] = {
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.iterator
    }
    val cs = shuffled((1L to customers).toArray)
    val ss = shuffled((1L to suppliers).map(Tables.SupplierBase + _).toArray)
    val stride = (customers + suppliers) / suppliers
    Array.tabulate(customers + suppliers) { r =>
      if ((r % stride == stride / 2 && ss.hasNext) || !cs.hasNext) ss.next() else cs.next()
    }
  }
}

object Inputs {
  /** The same content fingerprint as `graft.Bench`: MD5 over the sorted
    * `relative-path:size` listing of the regular files under `dir`. */
  def fingerprint(dir: Path): String = {
    val stream = Files.walk(dir)
    val listing =
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => s"${dir.relativize(p)}:${Files.size(p)}").toSeq.sorted
      } finally stream.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally s.close()
    }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      } finally s.close()
    }
}

/** Zipf(s) over ranks 0..n-1, sampled by binary search on the CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(rnd: java.util.SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Order-independent multiset hashes: the hash of a union is the sum of
  * the parts' hashes, so expected answers for multi-key calls are sums of
  * per-key expectations. */
object MHash {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def longs(a: Array[Long]): Long = { var h = 0L; var i = 0; while (i < a.length) { h += mix(a(i)); i += 1 }; h }
  def row(r: Seq[Any]): Long = r.foldLeft(17L)((h, v) => mix(h * 31 + (v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case null => 0L
    case o => o.hashCode.toLong
  })))
  def rows(rs: Iterable[Seq[Any]]): Long = rs.foldLeft(0L)(_ + row(_))
}
