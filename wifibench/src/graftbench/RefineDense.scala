package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.localize.BatchLocalizer.Measurement

/** refine_dense: batches of measurements in the `Measurement` schema go
  * through `RefineLoop.run` against one AP state table, so merge-on-read
  * commits pile up; an exact replay of the last batch closes the run and
  * must apply nothing. Ingest and serve never run. */
final class RefineDense extends Workload {
  private var world: DenseWorld = _
  private var inputs: String = _

  def prepare(ctx: Ctx): Unit = {
    world = new DenseWorld(ctx.seed, ctx.scale)
    inputs = ctx.dir("inputs")
  }

  /** Draws batch k and stores it as parquet (once per seed and k). */
  private def input(ctx: Ctx, k: Int): (DenseWorld#Batch, String) = {
    val b = world.batch(k)
    val path = Paths.get(inputs, s"batch-$k").toString
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      val spark = ctx.spark
      import spark.implicits._
      spark.createDataset(b.ms).coalesce(1).write.mode("overwrite").parquet(path)
    }
    (b, path)
  }

  private def read(ctx: Ctx, path: String) = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(path).as[Measurement]
  }

  private def checkBatch(ctx: Ctx, what: String, b: DenseWorld#Batch, out: Refine.Out): Unit = {
    val tiers = out.rows.groupBy(_._2).map { case (t, v) => t -> v.size }
    val seen = if (ctx.fault) tiers.updated("mle", tiers.getOrElse("mle", 0) + 1) else tiers
    ctx.check(s"$what tiers", seen == b.tiers, s"localized per tier $seen, planted ${b.tiers}")
    ctx.check(s"$what applied", out.rows.forall(_._3), "a fresh batch left APs unapplied")
    val relocated = out.rows.filter(_._4).map(_._1).toSet
    ctx.check(s"$what relocations", relocated == b.relocated,
      s"relocated ${relocated.size} (${(relocated -- b.relocated).take(3)} unplanted), " +
        s"planted ${b.relocated.size} (${(b.relocated -- relocated).take(3)} missed)")
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    val (b, path) = ctx.span("bench", "generate")(input(ctx, 0))
    ctx.op("prime") {
      val out = Refine(ctx, read(ctx, path), Paths.get(dir, "state").toString, b.ms.size)
      checkBatch(ctx, "prime", b, out)
    }
  }

  def run(ctx: Ctx, dir: String, seconds: Double, maxSteps: Int, out: Report): (Int, Double) = {
    val state = Paths.get(dir, "state").toString
    val refresh = mutable.ArrayBuffer.empty[Double]
    var runNs = 0L
    var localized = 0L
    var last: (Long, String) = null
    var k = 0
    while (k < maxSteps && refresh.sum < seconds) {
      k += 1
      val (b, path) = ctx.span("bench", "generate")(input(ctx, k))
      ctx.span("bench", "batch", s"batch-$k") {
        Refine.kernelSample(ctx, b.ms)
        val t0 = System.nanoTime()
        ctx.op(s"batch $k") {
          val o = Refine(ctx, read(ctx, path), state, b.ms.size)
          refresh += (System.nanoTime() - t0) / 1e9
          runNs += o.runNs
          localized += o.rows.size
          checkBatch(ctx, s"batch $k", b, o)
        }
      }
      last = (b.ms.size.toLong, path)
    }
    ctx.op("replay") {
      val o = ctx.span("bench", "replay", "replay")(Refine(ctx, read(ctx, last._2), state, last._1))
      val applied = o.rows.count(_._3)
      ctx.check("replay applies nothing", applied == 0, s"replay applied $applied APs")
    }
    for (err <- Refine.apErrorP50(ctx, state, world.truthOf) if refresh.nonEmpty) {
      val aps = localized / (runNs / 1e9)
      out.put("throughput_per_s", aps, "1/s")
      out.put("step_p50_ms", Stats.median(refresh.toSeq) * 1e3, "ms")
      out.put("error_m_p50", err, "m")
      out.put("localize_aps_per_s", aps, "AP/s")
      out.put("batches", refresh.size, "count")
      out.put("refresh_s", Stats.median(refresh.toSeq), "s")
      out.put("ap_error_m_p50", err, "m")
    }
    (refresh.size, refresh.sum)
  }
}
