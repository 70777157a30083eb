package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.mutation.VersionedTable

/** One benchmark run:
  * `--workload W --seed N --seconds S --trace 0|1 --workdir DIR
  *  [--trace-out FILE] [--scale X] [--fault]`.
  *
  * Prints `metric <name> <value> <unit>` lines, then one JSON object as the
  * last line. Exits 1 when any operation failed or any output check did. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "step_p50_ms" -> "ms",
    "error_m_p50" -> "m")

  val SparkLayers = Seq("ingest", "streaming", "mutation", "localize", "serve")

  val PerLayer: Seq[(String, String)] =
    SparkLayers.flatMap(l => Seq(
      s"$l.self_s" -> "s", s"$l.driver_s" -> "s", s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.task_run_s" -> "s", s"$l.task_cpu_s" -> "s", s"$l.gc_s" -> "s",
      s"$l.shuffle_write_mb" -> "MB", s"$l.fetch_wait_s" -> "s", s"$l.spill_mb" -> "MB",
      s"$l.rows_in" -> "count", s"$l.rows_out" -> "count")) ++ Seq(
      "algo.self_s" -> "s", "bench.self_s" -> "s",
      "ingest.decode_drops" -> "count", "ingest.valid_ratio" -> "ratio",
      "streaming.triggers" -> "count", "streaming.planning_s" -> "s", "streaming.commit_s" -> "s",
      "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB", "streaming.dup_dropped" -> "count",
      "mutation.commits" -> "count", "mutation.written_mb" -> "MB", "mutation.files_written" -> "count",
      "mutation.write_amp" -> "ratio", "mutation.live_segments" -> "count", "mutation.fs_ops" -> "count",
      "mutation.read_ms_p50" -> "ms",
      "localize.kernel_us_per_ap" -> "us", "localize.tier_wcl" -> "count", "localize.tier_mle" -> "count",
      "localize.tier_bayesian" -> "count", "localize.applied" -> "count", "localize.task_skew" -> "ratio",
      "algo.calls" -> "count", "algo.us_per_request_p50" -> "us", "algo.us_per_request_tail" -> "us",
      "serve.calls" -> "count", "serve.ok_ratio" -> "ratio", "serve.dim_rows" -> "count",
      "serve.tail_ms" -> "ms", "serve.tail_pct" -> "pct",
      "live_heap_peak_mb" -> "MB", "retained_storage_mb" -> "MB", "host.calib_1t_s" -> "s", "host.calib_nt_s" -> "s",
      "trace_overhead_ratio" -> "ratio", "trace.reconcile_err" -> "ratio",
      "trace.unattributed_jobs" -> "count", "fail_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt.getOrElse("workload", sys.error("--workload is required"))
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val scale = opt.getOrElse("scale", "1").toDouble
    val root = Paths.get(opt.getOrElse("workdir", sys.error("--workdir is required"))).toAbsolutePath
    val ctx = new Ctx(seed, scale, root, fault = args.contains("--fault"))
    val wl = Workload(workload)
    val cpus = Runtime.getRuntime.availableProcessors
    val heap = new HeapPeak
    heap.start()

    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]").appName(s"wifibench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", ctx.dir("spark-local"))
        .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
        .config("spark.hadoop.fs.file.impl", if (traced) classOf[CountingFs].getName
          else classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up runs three times, each with a fresh session and fresh tables;
    // the median is reported and the last one feeds the timed phase.
    val setups = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = session()
      val sessionNs = System.nanoTime() - t0
      wl.prepare(ctx)
      val dir = ctx.dir(s"setup-$i")
      val t1 = System.nanoTime()
      wl.setup(ctx, dir)
      (sessionNs + System.nanoTime() - t1) / 1e9
    }
    System.err.println(f"[wifibench] set-ups ${setups.mkString(", ")} s")
    val runDir = root.resolve("setup-2").toString
    // No System.gc() before a timed phase: a full collection right there
    // made the first timed steps up to 30 % slower than the warm-up's.
    val report = new Report
    report.put("setup_s", Stats.median(setups), "s")

    if (!traced) {
      wl.run(ctx, runDir, seconds, Int.MaxValue, report)
    } else {
      val spark = ctx.spark
      val (calib1t0, calibNt0) = Host.calibrate(spark)
      val plain = new Report
      val (n0, w0) = wl.run(ctx, runDir, seconds, Int.MaxValue, plain)
      wl.prepare(ctx)
      val dir = ctx.dir("traced")
      wl.setup(ctx, dir)
      val tracer = new SpanTracer(spark.sparkContext)
      ctx.tracer = tracer
      val tracedStartMs = System.currentTimeMillis()
      val (n1, w1) = wl.run(ctx, dir, seconds * 2, n0, new Report)
      ctx.tracer = NoTrace
      org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer.recorder)
      val retained = Host.storageUsedMb(spark)
      val (calib1t1, calibNt1) = Host.calibrate(spark)
      val a = tracer.attribute()
      val L = ctx.layer
      SparkLayers.foreach { l =>
        val g = a.layers.getOrElse(l, new LayerAgg)
        L.put(s"$l.self_s", g.selfNs / 1e9, "s")
        L.put(s"$l.driver_s", g.driverMs / 1e3, "s")
        L.put(s"$l.jobs", g.jobs.toDouble, "count")
        L.put(s"$l.tasks", g.tasks.toDouble, "count")
        L.put(s"$l.task_run_s", g.runMs / 1e3, "s")
        L.put(s"$l.task_cpu_s", g.cpuNs / 1e9, "s")
        L.put(s"$l.gc_s", g.gcMs / 1e3, "s")
        L.put(s"$l.shuffle_write_mb", g.shuffleWriteBytes / 1048576.0, "MB")
        L.put(s"$l.fetch_wait_s", g.fetchWaitMs / 1e3, "s")
        L.put(s"$l.spill_mb", g.spillBytes / 1048576.0, "MB")
        L.put(s"$l.rows_in", g.rowsIn.toDouble, "count")
        L.put(s"$l.rows_out", g.rowsOut.toDouble, "count")
      }
      Seq("algo", "bench").foreach(l =>
        L.put(s"$l.self_s", a.layers.get(l).map(_.selfNs / 1e9).getOrElse(0.0), "s"))
      val mut = a.layers.getOrElse("mutation", new LayerAgg)
      L.put("mutation.written_mb", mut.outputBytes / 1048576.0, "MB")
      L.put("mutation.fs_ops", a.layers.filter(kv => kv._1 == "mutation" || kv._1 == "streaming")
        .values.map(_.fsOps).sum.toDouble, "count")
      mutationFiles(ctx, dir, tracedStartMs, mut.outputBytes)
      L.put("localize.task_skew", a.layers.get("localize").flatMap(skew).getOrElse(0.0), "ratio")
      for (f <- L.get("ingest.flattened"); v <- L.get("ingest.valid_rows") if f > 0)
        L.put("ingest.valid_ratio", v / f, "ratio")
      for (n <- L.get("serve.responses"); ok <- L.get("serve.ok") if n > 0)
        L.put("serve.ok_ratio", ok / n, "ratio")
      ctx.samples.get("mutation.read_ms").foreach(s => L.put("mutation.read_ms_p50", Stats.median(s.toSeq), "ms"))
      ctx.samples.get("localize.kernel_us_per_ap").foreach(s =>
        L.put("localize.kernel_us_per_ap", Stats.median(s.toSeq), "us"))
      ctx.samples.get("algo.us_per_request").foreach { s =>
        L.put("algo.us_per_request_p50", Stats.median(s.toSeq), "us")
        Stats.tail(s.toSeq).foreach(t => L.put("algo.us_per_request_tail", t._2, "us"))
      }
      plain.get("serve_tail_ms").foreach(v => L.put("serve.tail_ms", v, "ms"))
      plain.get("serve_tail_pct").foreach(v => L.put("serve.tail_pct", v, "pct"))
      L.put("retained_storage_mb", retained, "MB")
      L.put("host.calib_1t_s", Stats.median(Seq(calib1t0, calib1t1)), "s")
      L.put("host.calib_nt_s", Stats.median(Seq(calibNt0, calibNt1)), "s")
      L.put("trace_overhead_ratio",
        if (n0 > 0 && n1 > 0) (w1 / n1) / (w0 / n0) - 1.0 else 0.0, "ratio")
      L.put("trace.reconcile_err", a.reconcileErr, "ratio")
      L.put("trace.unattributed_jobs", a.unattributedJobs.toDouble, "count")
      plain.entries.foreach { case (k, v, u) => report.put(k, v, u) }
      opt.get("trace-out").foreach { p =>
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        Files.write(Paths.get(p), tracer.spansJson.getBytes("UTF-8"))
      }
      Seq(("calib_1t_start", calib1t0), ("calib_1t_end", calib1t1),
        ("calib_nt_start", calibNt0), ("calib_nt_end", calibNt1))
        .foreach { case (k, v) => println(s"host $k $v s") }
    }
    heap.stop()
    report.put("live_heap_peak_mb", heap.peakMb, "MB")
    ctx.layer.put("live_heap_peak_mb", heap.peakMb, "MB")
    report.put("fail_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")
    ctx.layer.put("fail_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")

    val wanted = if (traced) PerLayer else EndToEnd
    val source = if (traced) ctx.layer else report
    // idle layers read 0 in a traced run; every end-to-end metric must exist
    val missing = if (traced) Nil else wanted.filterNot(w => source.get(w._1).isDefined)
    ctx.failures.foreach(f => System.err.println(s"[wifibench] FAILED $f"))
    missing.foreach(m => System.err.println(s"[wifibench] metric ${m._1} was not measured"))
    report.entries.foreach { case (k, v, u) => println(s"metric $k $v $u") }
    if (traced) ctx.layer.entries.foreach { case (k, v, u) => println(s"layer $k $v $u") }
    val correct = ctx.failed == 0 && missing.isEmpty && ctx.attempted > 0
    val metrics = wanted.map { case (k, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(source.get(k).getOrElse(0.0))}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$metrics}}""")
    ctx.spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** max over median task run time in the localize stage with the most
    * task time (the cogroup stage). */
  private def skew(g: LayerAgg): Option[Double] =
    g.stageRunTimes.filter(_.nonEmpty).maxByOption(_.sum).map { t =>
      val med = Stats.median(t.map(_.toDouble).toSeq)
      if (med > 0) t.max / med else 1.0
    }

  /** Files the traced phase left in its tables, write amplification and
   * the live segment count of the AP state table. */
  private def mutationFiles(ctx: Ctx, dir: String, sinceMs: Long, writtenBytes: Long): Unit = {
    val L = ctx.layer
    val spark = ctx.spark
    def files(p: String): Seq[java.io.File] =
      if (!Files.exists(Paths.get(p))) Nil
      else Files.walk(Paths.get(p)).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    val tables = Seq("table", "state").map(t => Paths.get(dir, t).toString)
    L.put("mutation.files_written",
      tables.flatMap(files).count(_.lastModified >= sinceMs).toDouble, "count")
    val state = tables(1)
    val snap = VersionedTable.snapshot(spark, state)
    L.put("mutation.live_segments", snap.map(_.segments.size.toDouble).getOrElse(0.0), "count")
    // bytes per row of what the tables hold now, to price the changed rows
    val live = tables.filter(p => Files.exists(Paths.get(p))).map { p =>
      val rows = if (p == state) VersionedTable.read(spark, p).count() else spark.read.parquet(p).count()
      val bytes =
        if (p == state) VersionedTable.segmentBytes(spark, p).map(_._2).sum
        else files(p).map(_.length).sum
      (rows, bytes)
    }
    val rows = live.map(_._1).sum
    val changed = L.get("mutation.changed_rows").getOrElse(0.0)
    if (rows > 0 && changed > 0) {
      val perRow = live.map(_._2).sum.toDouble / rows
      L.put("mutation.write_amp", writtenBytes / (changed * perRow), "ratio")
    }
  }
}
