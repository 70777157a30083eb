package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.ingest.ScanIngest
import graft.localize.BatchLocalizer
import graft.streaming.IngestStream

/** ingest_replay: each round stages new wire files, drains them with
  * `IngestStream` (AvailableNow trigger, partition-scoped merge) and runs
  * `RefineLoop.run` on the round's new rows. Replays and malformed records
  * arrive in planted shares; BSSIDs are sparse, so the localizer and the
  * serve path stay nearly idle. */
final class IngestReplay extends Workload {
  private var world: WireWorld = _
  private var cfg: ScanIngest.Config = _
  private val validIds = mutable.HashSet.empty[String]
  private val invalidIds = mutable.HashSet.empty[String]

  def prepare(ctx: Ctx): Unit = {
    world = new WireWorld(ctx.seed, ctx.scale)
    cfg = ScanIngest.Config(nowMillis = Some(World.NowMs), maxRecordBytes = world.MaxRecordBytes)
    validIds.clear(); invalidIds.clear()
  }

  private final case class RoundOut(lines: Int, drainNs: Long, refineNs: Long, localized: Int)

  /** One round: files written aside (not timed), moved into the source dir,
   * drained into the table, then refined. Returns the timed parts. */
  private def round(ctx: Ctx, dir: String, k: Int): (RoundOut, Long) = {
    val r = ctx.span("bench", "generate")(world.round(k))
    val staging = Paths.get(dir, "staging", s"r$k")
    Files.createDirectories(staging)
    val staged = r.files.zipWithIndex.map { case (lines, f) =>
      val p = staging.resolve(f"r$k%03d-f$f%02d.txt")
      Files.write(p, lines.asJava, StandardCharsets.UTF_8)
      p
    }
    validIds ++= r.validIds
    invalidIds ++= r.invalidIds
    val source = Paths.get(dir, "source")
    Files.createDirectories(source)
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val out = ctx.span("bench", "round", s"round-$k") {
      val moved = ctx.span("bench", "stage") {
        staged.map(p => Files.move(p, source.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE).toString)
      }
      if (ctx.tracer.enabled) ctx.span("ingest", "decode-validate") {
        val lines = spark.read.text(moved: _*)
        val docs = ScanIngest.decodeAndParse(lines).localCheckpoint(true)
        val decoded = docs.count()
        val flat = ScanIngest.flattenScans(docs).count() + ScanIngest.flattenConnected(docs).count()
        val rows = ScanIngest.ingest(lines, cfg).count()
        ctx.count("ingest.decode_drops", (r.lines - decoded).toDouble, "count")
        ctx.count("ingest.flattened", flat.toDouble, "count")
        ctx.count("ingest.valid_rows", rows.toDouble, "count")
        ctx.tracer.rows(r.lines, rows)
      }
      val d0 = System.nanoTime()
      ctx.span("streaming", "drain") {
        val q = IngestStream.writer(
          IngestStream.fromFiles(spark, source.toString, maxFilesPerTrigger = 2, cfg = cfg),
          Paths.get(dir, "table").toString, Paths.get(dir, "checkpoint").toString).start()
        q.awaitTermination()
        if (ctx.tracer.enabled) Streaming.record(ctx, q)
        ctx.tracer.rows(r.lines, r.validIds.size)
        ctx.count("mutation.changed_rows", r.validIds.size, "count")
      }
      val drainNs = System.nanoTime() - d0
      val fresh = spark.read.parquet(Paths.get(dir, "table").toString)
        .where(col(IngestStream.PartitionCol) === r.date)
      val o = Refine(ctx, BatchLocalizer.fromColumns(fresh, "bssid", "latitude", "longitude",
        "rssi", "quality_weight")(spark), Paths.get(dir, "state").toString, r.validIds.size)
      val got = o.rows.map(_._1).toSet
      ctx.check(s"round $k localized", got == r.localizable,
        s"localized ${got.size}, planted ${r.localizable.size}")
      RoundOut(r.lines, drainNs, o.runNs, o.rows.size)
    }
    (out, System.nanoTime() - t0)
  }

  def setup(ctx: Ctx, dir: String): Unit = ctx.op("prime round")(round(ctx, dir, 0))

  def run(ctx: Ctx, dir: String, seconds: Double, maxSteps: Int, out: Report): (Int, Double) = {
    val refresh = mutable.ArrayBuffer.empty[Double]
    var lines = 0L; var drainNs = 0L; var refineNs = 0L; var localized = 0L
    var k = 0
    while (k < maxSteps && refresh.sum < seconds) {
      k += 1
      ctx.op(s"round $k")(round(ctx, dir, k)).foreach { case (o, ns) =>
        refresh += ns / 1e9
        lines += o.lines; drainNs += o.drainNs; refineNs += o.refineNs; localized += o.localized
      }
    }
    System.err.println(f"[wifibench] round s ${refresh.map(r => f"$r%.2f").mkString(" ")}; " +
      f"drain s ${drainNs / 1e9}%.2f refine s ${refineNs / 1e9}%.2f lines $lines")
    ctx.op("committed table") {
      val ids = ctx.span("bench", "verify")(ctx.spark.read.parquet(Paths.get(dir, "table").toString)
        .select("event_id").collect().map(_.getString(0)).toSeq)
      val seen = if (ctx.fault) ids.drop(1) else ids
      val distinct = seen.toSet
      ctx.check("no event_id committed twice", distinct.size == seen.size,
        s"${seen.size - distinct.size} duplicate rows")
      ctx.check("committed = distinct valid event_ids", distinct == validIds,
        s"committed ${distinct.size}, planted valid ${validIds.size}, " +
          s"missing ${(validIds -- distinct).size}, unplanted ${(distinct -- validIds).size}")
      val rejected = invalidIds.count(id => !distinct.contains(id))
      ctx.check("rejected = planted invalid", rejected == invalidIds.size,
        s"rejected $rejected of ${invalidIds.size} planted invalid entries")
    }
    val anchors = (0 until world.anchors).map(i => world.anchorId(i) -> world.anchorTruth(i)).toMap
    val apErr = Refine.apErrorP50(ctx, Paths.get(dir, "state").toString, anchors.get)
    for (err <- apErr if refresh.nonEmpty) {
      val msgs = lines / (drainNs / 1e9)
      out.put("throughput_per_s", msgs, "1/s")
      out.put("step_p50_ms", Stats.median(refresh.toSeq) * 1e3, "ms")
      out.put("error_m_p50", err, "m")
      out.put("ingest_msgs_per_s", msgs, "msg/s")
      out.put("rounds", refresh.size, "count")
      out.put("refresh_s", Stats.median(refresh.toSeq), "s")
      out.put("localize_aps_per_s", localized / (refineNs / 1e9), "AP/s")
      out.put("ap_error_m_p50", err, "m")
    }
    (refresh.size, refresh.sum)
  }
}

/** Per-trigger streaming figures from `StreamingQueryProgress`. The sink's
  * `addBatch` time becomes a virtual `mutation` child of the drain span,
  * owning the micro-batch jobs (job group = the query's runId). */
object Streaming {
  def record(ctx: Ctx, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ps = q.recentProgress.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val addBatch = ps.map(dur(_, "addBatch")).sum
    ctx.tracer.virtualChild("mutation", "partition-merge", addBatch, q.runId.toString)
    ctx.count("streaming.triggers", ps.size, "count")
    ctx.count("streaming.planning_s", ps.map(dur(_, "queryPlanning")).sum / 1e3, "s")
    ctx.count("streaming.commit_s", ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum / 1e3, "s")
    ctx.count("mutation.commits", ps.count(_.numInputRows > 0), "count")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    ctx.count("streaming.dup_dropped", ops.map(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L) +
        o.numRowsDroppedByWatermark).sum, "count")
    if (ops.nonEmpty) ctx.layer.synchronized {
      ctx.layer.put("streaming.state_rows", ops.map(_.numRowsTotal).max.toDouble, "count")
      ctx.layer.put("streaming.state_mb", ops.map(_.memoryUsedBytes).max / 1048576.0, "MB")
    }
  }
}
