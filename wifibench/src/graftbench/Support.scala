package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value is not finite: $d")
    d.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile (whole percent) with at least ten samples
    * above it, and the value there (nearest rank). None below 20 samples,
    * where that percentile would be the median itself. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 20) None
    else {
      val pct = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
      Some((pct, s(rank - 1)))
    }
  }
}

/** Metrics of one run, in insertion order, each with its unit. */
final class Report {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def entries: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}

/** Largest heap occupancy right after a collection, from GC notifications. */
final class HeapPeak {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit = {
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  def start(): Unit = { peak = 0L; emitters.foreach(_.addNotificationListener(listener, null, null)) }
  def stop(): Unit = emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
  def peakMb: Double = peak / 1048576.0
}

object Host {
  /** The host-speed pair `graft.Bench` records: a single-thread integer
    * spin and one N-way Spark job of the same size. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0L
      while (i < 400000000L) { x += i * 2654435761L; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    spin() // JIT warm-up; the sessions set up before this warmed Spark
    val oneT = spin()
    import org.apache.spark.sql.functions.{col, pmod, lit, sum, xxhash64}
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(1500000000L).select(sum(pmod(xxhash64(col("id")), lit(1000L)))).head()
      (System.nanoTime() - t0) / 1e9
    }
    (oneT, job())
  }

  /** Executor storage memory in use (block manager), in MB. */
  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0

  /** Hadoop filesystem list, open, rename and delete calls so far. */
  def fsOps(): Long = CountingFs.ops.get
}

/** Haversine and metre offsets on a sphere of the library's radius. */
object Geo {
  val EarthRadiusM = 6371000.0
  val MPerDegLat = math.Pi * EarthRadiusM / 180.0
  def offset(lat: Double, lon: Double, eastM: Double, northM: Double): (Double, Double) =
    (lat + northM / MPerDegLat, lon + eastM / (MPerDegLat * math.cos(math.toRadians(lat))))
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * EarthRadiusM * math.asin(math.sqrt(a))
  }
}
