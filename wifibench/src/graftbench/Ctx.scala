package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.localize.{BatchLocalizer, RefineLoop}
import graft.mutation.VersionedTable

/** What a workload sees of the run: the session, the tracer, the counters
  * of attempted and failed operations, and the per-layer counters that
  * only a traced run fills. */
final class Ctx(val seed: Long, val scale: Double, val root: Path, val fault: Boolean) {
  @volatile var spark: SparkSession = _
  @volatile var tracer: Tracer = NoTrace
  val layer = new Report
  private var attemptedN = 0L
  private var failedN = 0L
  private val failureLog = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def failures: Seq[String] = synchronized(failureLog.toSeq)

  /** One attempted operation; a throw counts it as failed. */
  def op[T](what: String)(f: => T): Option[T] = {
    synchronized(attemptedN += 1)
    try Some(f)
    catch {
      case e: Throwable =>
        synchronized { failedN += 1; failureLog += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        None
    }
  }

  /** One output check; a mismatch counts it as a failed operation. */
  def check(what: String, ok: Boolean, detail: => String): Unit = synchronized {
    attemptedN += 1
    if (!ok) { failedN += 1; failureLog += s"$what: $detail" }
  }

  /** One sample of a per-layer distribution (traced runs only). */
  def sample(name: String, v: Double): Unit =
    if (tracer.enabled) samples.synchronized(samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Add to a per-layer counter (traced runs only). */
  def count(name: String, v: Double, unit: String): Unit =
    if (tracer.enabled) layer.synchronized(layer.put(name, layer.get(name).getOrElse(0.0) + v, unit))

  def dir(name: String): String = {
    val p = root.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  def span[T](layer: String, name: String, traceId: String = null)(f: => T): T =
    tracer.span(layer, name, traceId)(f)
}

/** One workload: `prepare` draws the seeded inputs (not timed), `setup`
  * primes tables and warms up inside `dir`, and `run` is the timed phase.
  * A run stops after `seconds` of measured time or `maxSteps` steps and
  * returns the number of steps and their summed wall time. */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def setup(ctx: Ctx, dir: String): Unit
  def run(ctx: Ctx, dir: String, seconds: Double, maxSteps: Int, out: Report): (Int, Double)
}

object Workload {
  def apply(name: String): Workload = name match {
    case "ingest_replay" => new IngestReplay
    case "refine_dense"  => new RefineDense
    case "serve_mixed"   => new ServeMixed
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The refine path shared by the workloads: `RefineLoop.run` when untraced.
  * A traced run splits the same work at the layer boundary: the localize
  * step is materialized first, then the state write-back commits it
  * exactly as `RefineLoop.run` does. */
object Refine {
  final case class Out(rows: Seq[(String, String, Boolean, Boolean)], runNs: Long)

  def apply(ctx: Ctx, ms: org.apache.spark.sql.Dataset[BatchLocalizer.Measurement],
      statePath: String, inputRows: Long): Out = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val refined: DataFrame =
      if (!ctx.tracer.enabled) RefineLoop.run(spark, ms, statePath)
      else {
        val loc = ctx.span("localize", "refine") {
          val l = RefineLoop.refineWith(spark, ms, RefineLoop.readState(spark, statePath))
            .toDF().localCheckpoint(true)
          ctx.tracer.rows(inputRows, l.count())
          l
        }
        ctx.span("mutation", "state-upsert") {
          val update = loc.where(col("applied")).select(col("bssid"),
            col("state_lat").as("lat"), col("state_lon").as("lon"),
            col("var_lat_m2"), col("var_lon_m2"), col("cov_m2"),
            col("state_n").as("n"), col("relocations"), col("sig").as("last_sig"))
          if (VersionedTable.currentVersion(spark, statePath).isEmpty)
            VersionedTable.create(spark, statePath, update)
          else VersionedTable.morUpsert(spark, statePath, update, Seq("bssid"))
          val changed = update.count()
          ctx.tracer.rows(changed, changed)
        }
        loc
      }
    val runNs = System.nanoTime() - t0
    val rows = ctx.span("bench", "collect-refined") {
      refined.select("bssid", "method", "applied", "relocated").collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    }
    if (ctx.tracer.enabled) {
      ctx.count("localize.applied", rows.count(_._3).toDouble, "count")
      Seq("wcl", "mle", "bayesian").foreach(t =>
        ctx.count(s"localize.tier_$t", rows.count(_._2 == t).toDouble, "count"))
      ctx.count("mutation.commits", 1, "count")
      ctx.count("mutation.changed_rows", rows.count(_._3).toDouble, "count")
    }
    Out(rows, runNs)
  }

  /** Median haversine distance from each committed AP state to its truth. */
  def apErrorP50(ctx: Ctx, statePath: String, truth: String => Option[(Double, Double)]): Option[Double] = {
    val errs = ctx.span("bench", "ap-error")(
      VersionedTable.read(ctx.spark, statePath).select("bssid", "lat", "lon").collect().toSeq)
      .flatMap(r => truth(r.getString(0)).map { case (la, lo) =>
        Geo.haversine(r.getDouble(1), r.getDouble(2), la, lo) })
    if (errs.isEmpty) None else Some(Stats.median(errs))
  }

  /** Driver-side localizer timing on a sample of AP groups (traced runs). */
  def kernelSample(ctx: Ctx, ms: Seq[BatchLocalizer.Measurement]): Unit =
    if (ctx.tracer.enabled) ctx.span("localize", "kernel-sample") {
      val groups = ms.groupBy(_.bssid).toSeq.sortBy(_._1).take(40)
      val t0 = System.nanoTime()
      groups.foreach { case (b, g) =>
        BatchLocalizer.localize(b, BatchLocalizer.cappedSorted(g.iterator, 1000)) }
      ctx.sample("localize.kernel_us_per_ap", (System.nanoTime() - t0) / 1e3 / math.max(1, groups.size))
    }
}
