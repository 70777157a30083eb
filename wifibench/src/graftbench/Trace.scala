package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is 0 for a root. A virtual span
  * has no thread of its own: it carves a known duration out of its parent
  * (the streaming sink's `addBatch` time) and owns the jobs of `alias`. */
final class Span(
    val id: Long, val parent: Long, val layer: String, val name: String,
    val traceId: String, val startNs: Long, val startMs: Long) {
  @volatile var endNs: Long = startNs
  @volatile var endMs: Long = startMs
  @volatile var rowsIn: Long = 0L
  @volatile var rowsOut: Long = 0L
  @volatile var alias: String = null
  @volatile var fs0: Long = 0L
  @volatile var fs1: Long = 0L
  def durNs: Long = endNs - startNs
}

/** Records spans around calls into layers. The untraced implementation
  * runs the body and nothing else, so timed runs pay no tracing cost. */
trait Tracer {
  def enabled: Boolean
  def span[T](layer: String, name: String, traceId: String = null)(f: => T): T
  /** Logical rows entering and leaving the innermost open span. */
  def rows(in: Long, out: Long): Unit
  /** A child of the innermost open span that lasted `durMs` and owns the
    * Spark jobs whose job group is `group`. */
  def virtualChild(layer: String, name: String, durMs: Long, group: String): Unit
}

object NoTrace extends Tracer {
  def enabled = false
  def span[T](layer: String, name: String, traceId: String)(f: => T): T = f
  def rows(in: Long, out: Long): Unit = ()
  def virtualChild(layer: String, name: String, durMs: Long, group: String): Unit = ()
}

/** The local property Spark reads a job's group from. */
object JobGroup {
  def apply(): String = "spark.jobGroup.id"
}

/** Per-stage task sums, filled by the listener. */
final class StageAgg {
  var group: String = null
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val runTimes = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, group: String, startMs: Long) {
  @volatile var endMs: Long = startMs
}

/** Listener that keeps every job and per-stage task sums with the job
  * group they ran under. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val stageJob = mutable.HashMap.empty[Int, Int]

  private def groupOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(JobGroup())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, groupOf(e.properties), e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    if (a.group == null) a.group = groupOf(e.properties)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
      a.runTimes += m.executorRunTime
    }
  }
}

/** Sums of one layer over a traced run. */
final class LayerAgg {
  var selfNs = 0L
  var driverMs = 0.0
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var rowsIn = 0L
  var rowsOut = 0L
  var outputBytes = 0L
  var fsOps = 0L
  val stageRunTimes = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Long]]
}

final class SpanTracer(sc: SparkContext) extends Tracer {
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  val recorder = new JobRecorder
  sc.addSparkListener(recorder)

  def enabled = true

  def span[T](layer: String, name: String, traceId: String)(f: => T): T = {
    val outer = stack.get
    val parent = outer.headOption
    val tid = Option(traceId).orElse(parent.map(_.traceId)).orNull
    val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      layer, name, tid, System.nanoTime(), System.currentTimeMillis())
    val prevGroup = sc.getLocalProperty(JobGroup())
    sc.setLocalProperty(JobGroup(), s"span-${s.id}")
    s.fs0 = Host.fsOps()
    stack.set(s :: outer)
    try f
    finally {
      s.fs1 = Host.fsOps()
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.set(outer)
      sc.setLocalProperty(JobGroup(), prevGroup)
      done.add(s)
    }
  }

  def rows(in: Long, out: Long): Unit = stack.get.headOption.foreach { s =>
    s.rowsIn += in; s.rowsOut += out
  }

  def virtualChild(layer: String, name: String, durMs: Long, group: String): Unit =
    stack.get.headOption.foreach { p =>
      val v = new Span(ids.incrementAndGet(), p.id, layer, name, p.traceId,
        p.startNs, p.startMs)
      v.endNs = p.startNs + durMs * 1000000L
      v.endMs = p.startMs + durMs
      v.alias = group
      done.add(v)
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Attribution of jobs and tasks to spans, and self time per span. */
  final class Attribution(val layers: Map[String, LayerAgg], val reconcileErr: Double,
      val unattributedJobs: Int)

  def attribute(): Attribution = recorder.synchronized {
    val all = spans
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    val groupSpan: Map[String, Long] =
      all.map(s => s"span-${s.id}" -> s.id).toMap ++
        all.filter(_.alias != null).map(s => s.alias -> s.id)
    // a job run from a thread that did not inherit the job group falls to
    // the innermost span open when it started
    def containing(ms: Long): Long = {
      val c = all.filter(s => s.alias == null && s.startMs <= ms && ms <= s.endMs)
      if (c.isEmpty) 0L else c.maxBy(_.startNs).id
    }
    var unattributed = 0
    val jobSpan = recorder.jobs.values.map { j =>
      val sid = Option(j.group).flatMap(groupSpan.get).getOrElse(containing(j.startMs))
      if (sid == 0L) unattributed += 1
      j.id -> sid
    }.toMap
    val jobsBySpan = recorder.jobs.values.groupBy(j => jobSpan(j.id))

    val layers = mutable.HashMap.empty[String, LayerAgg]
    def agg(l: String) = layers.getOrElseUpdate(l, new LayerAgg)

    def ivs(ss: Iterable[Span]) = ss.map(s => (s.startNs, s.endNs)).toSeq
    all.foreach { s =>
      val kids = ivs(children.getOrElse(s.id, Nil))
      val selfNs = s.durNs - Intervals.len(Intervals.clip(kids, s.startNs, s.endNs))
      val a = agg(s.layer)
      a.selfNs += selfNs
      a.rowsIn += s.rowsIn
      a.rowsOut += s.rowsOut
      a.fsOps += (s.fs1 - s.fs0) - children.getOrElse(s.id, Nil).map(k => k.fs1 - k.fs0).sum
      val direct = jobsBySpan.getOrElse(s.id, Nil)
      a.jobs += direct.size
      val jobIv = Intervals.clip(direct.map(j => (j.startMs, j.endMs)).toSeq, s.startMs, s.endMs)
      val kidMs = Intervals.clip(children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq,
        s.startMs, s.endMs)
      val jobSelfMs = Intervals.len(jobIv) - Intervals.overlap(jobIv, kidMs)
      a.driverMs += math.max(0.0, selfNs / 1e6 - jobSelfMs)
    }
    recorder.stages.foreach { case (stageId, st) =>
      val sid = Option(st.group).flatMap(groupSpan.get)
        .orElse(recorder.stageJob.get(stageId).map(jobSpan))
        .getOrElse(0L)
      val layer = byId.get(sid).map(_.layer).getOrElse("unattributed")
      val a = agg(layer)
      a.tasks += st.tasks
      a.runMs += st.runMs
      a.cpuNs += st.cpuNs
      a.gcMs += st.gcMs
      a.shuffleWriteBytes += st.shuffleWriteBytes
      a.fetchWaitMs += st.fetchWaitMs
      a.spillBytes += st.spillBytes
      a.outputBytes += st.outputBytes
      if (st.runTimes.nonEmpty) a.stageRunTimes += st.runTimes
    }
    // every root's subtree self time must add back up to the root's wall
    val roots = all.filter(_.parent == 0L)
    def subtreeSelf(s: Span): Long = {
      val kids = children.getOrElse(s.id, Nil)
      s.durNs - Intervals.len(Intervals.clip(ivs(kids), s.startNs, s.endNs)) +
        kids.map(subtreeSelf).sum
    }
    val rootWall = roots.map(_.durNs).sum
    val selfSum = roots.map(subtreeSelf).sum
    val err = if (rootWall == 0L) 0.0 else math.abs(selfSum - rootWall).toDouble / rootWall
    new Attribution(layers.toMap, err, unattributed)
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"trace":${Json.str(s.traceId)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durNs / 1e6},""" +
      s""""rows_in":${s.rowsIn},"rows_out":${s.rowsOut},"virtual":${s.alias != null}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Interval arithmetic over (start, end) pairs. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
  def len(iv: Seq[(Long, Long)]): Long = union(iv).map(p => p._2 - p._1).sum
  /** Length of the intersection of the unions of `a` and `b`. */
  def overlap(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    len(a) + len(b) - len(a ++ b)
}
