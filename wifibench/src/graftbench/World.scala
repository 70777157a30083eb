package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.localize.BatchLocalizer.Measurement
import graft.serve.RequestScoring.{Request, ScanInput}

/** Seeded synthetic WiFi world. Everything is drawn from `seed` plus a
  * per-purpose salt, so one seed always yields the same inputs and the same
  * expected outcomes. RSSI follows the log-distance model with shadowing,
  * with the constants the library's MLE assumes (-40 dBm at 1 m, exponent
  * 3). */
object World {
  val CenterLat = 40.0
  val CenterLon = -75.0
  /** Fixed "now" handed to the ingest validator, so stale and future
    * timestamps classify the same way on every run. */
  val NowMs = 1760000000000L
  val DayMs = 86400000L

  def rng(seed: Long, salt: Long): scala.util.Random = {
    var h = seed * 0x9E3779B97F4A7C15L + salt
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    new scala.util.Random(h)
  }

  /** Distinct lower-case BSSID per (kind, index). */
  def bssid(kind: Int, i: Int): String =
    f"02:$kind%02x:${(i >>> 16) & 255}%02x:${(i >>> 8) & 255}%02x:${i & 255}%02x:${(i * 7 + kind) & 255}%02x"

  def rssiAt(distM: Double, r: scala.util.Random, shadowDb: Double = 4.0): Double =
    math.rint(-40.0 - 30.0 * math.log10(math.max(distM, 1.0)) + shadowDb * r.nextGaussian())

  def clampRssi(x: Double): Double = math.max(-99.0, math.min(-31.0, x))

  /** Uniform point in a disk of `radiusM` around (lat, lon), with its
    * distance from the centre. */
  def around(lat: Double, lon: Double, radiusM: Double, r: scala.util.Random): (Double, Double, Double) = {
    val d = radiusM * math.sqrt(r.nextDouble())
    val th = 2 * math.Pi * r.nextDouble()
    val (la, lo) = Geo.offset(lat, lon, d * math.cos(th), d * math.sin(th))
    (la, lo, d)
  }

  def inSquare(sideM: Double, r: scala.util.Random): (Double, Double) =
    Geo.offset(CenterLat, CenterLon, (r.nextDouble() - 0.5) * sideM, (r.nextDouble() - 0.5) * sideM)

  /** Measurements of one AP from devices within 40 m, reported with a few
    * metres of GPS error. */
  def measurementsOf(bssid: String, lat: Double, lon: Double, n: Int,
      r: scala.util.Random): Seq[Measurement] =
    Seq.fill(n) {
      val (dla, dlo, d) = around(lat, lon, 40.0, r)
      val (gla, glo) = Geo.offset(dla, dlo, 3.0 * r.nextGaussian(), 3.0 * r.nextGaussian())
      Measurement(bssid, gla, glo, clampRssi(rssiAt(d, r)), 1.0)
    }

  /** Tier of a measurement count, as the localizer's gates and cap decide it. */
  def tierOf(count: Int): Option[String] = {
    val n = math.min(count, 1000)
    if (n >= 100) Some("bayesian") else if (n >= 50) Some("mle") else if (n >= 20) Some("wcl") else None
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Wire framing with the JDK's own gzip and Base64. */
  def wire(json: String): String = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(json.getBytes(StandardCharsets.UTF_8)); gz.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }
}

/** refine_dense: an AP population spanning the three localizer tiers, a few
  * mega-APs far past the 1,000-measurement cap, and planted relocations. */
final class DenseWorld(seed: Long, scale: Double) {
  import World._
  val population: Int = math.max(400, (3000 * scale).toInt)
  val megaCount = 4
  private val r0 = rng(seed, 11)
  val truth: Array[(Double, Double)] = Array.fill(population)(inSquare(6000.0, r0))
  def id(i: Int): String = bssid(1, i)
  private val byId = (0 until population).map(i => id(i) -> i).toMap
  def truthOf(b: String): Option[(Double, Double)] = byId.get(b).map(truth)
  private val stated = mutable.LinkedHashSet.empty[Int]
  private var nextUnseen = megaCount

  final case class Batch(ms: Seq[Measurement], tiers: Map[String, Int], relocated: Set[String])

  private def count(r: scala.util.Random): Int = {
    val u = r.nextDouble()
    if (u < 0.10) 5 + r.nextInt(15)
    else if (u < 0.45) 20 + r.nextInt(30)
    else if (u < 0.75) 50 + r.nextInt(50)
    else 100 + r.nextInt(151)
  }

  /** Batch k (0 primes the state). Batches must be drawn in order. */
  def batch(k: Int): Batch = {
    val r = rng(seed, 1000L + k)
    val fresh = (0 until (if (k == 0) population / 5 else population / 25))
      .iterator.takeWhile(_ => nextUnseen < population).map { _ => nextUnseen += 1; nextUnseen - 1 }.toSeq
    val pool = stated.toVector.filter(_ >= megaCount)
    val moved =
      if (k == 0 || pool.size < 20) Seq.empty[Int]
      else r.shuffle(pool).take(math.max(2, population / 600))
    val movedSet = moved.toSet
    val seen = r.shuffle(pool.filterNot(movedSet)).take(population / 20)
    moved.foreach { i =>
      val (la, lo) = truth(i)
      val d = 800.0 + 1200.0 * r.nextDouble()
      val th = 2 * math.Pi * r.nextDouble()
      truth(i) = Geo.offset(la, lo, d * math.cos(th), d * math.sin(th))
    }
    val counts: Seq[(Int, Int)] =
      (0 until megaCount).map(i => i -> (2500 + r.nextInt(1501))) ++
        fresh.map(i => i -> count(r)) ++ seen.map(i => i -> count(r)) ++
        moved.map(i => i -> (60 + r.nextInt(91)))
    val ms = counts.flatMap { case (i, n) => measurementsOf(id(i), truth(i)._1, truth(i)._2, n, r) }
    val tiers = counts.flatMap { case (_, n) => tierOf(n) }.groupBy(identity).map { case (t, v) => t -> v.size }
    counts.foreach { case (i, n) => if (n >= 20) stated += i }
    Batch(r.shuffle(ms), tiers, moved.map(id).toSet)
  }
}

/** ingest_replay: device reports as newline-delimited base64(gzip(JSON)),
  * with replays and malformed records in planted shares. Round `k` carries
  * event times on day k of a fixed calendar, so each round lands in its
  * own `ingest_date` partition. */
final class WireWorld(seed: Long, scale: Double) {
  import World._
  val MaxRecordBytes = 32768
  /** Four files of 75 messages: with two files per trigger, one trigger
    * drains 150 messages, the reference consumer's poll size. */
  val messagesPerRound: Int = math.max(40, (300 * scale).toInt)
  val filesPerRound = 4
  /** Anchor APs stand in clusters of eight within 25 m (a building); a
    * device near a cluster sees all eight. A round visits a few clusters
    * often enough to pass the 20-sighting gate; every other BSSID is
    * sparse. */
  val clusterSize = 8
  val anchors: Int = 100 * clusterSize
  private val r0 = rng(seed, 21)
  val anchorTruth: Array[(Double, Double)] = {
    val centres = Array.fill(anchors / clusterSize)(inSquare(6000.0, r0))
    Array.tabulate(anchors) { i =>
      val (la, lo, _) = around(centres(i / clusterSize)._1, centres(i / clusterSize)._2, 25.0, r0)
      (la, lo)
    }
  }
  def anchorId(i: Int): String = bssid(3, i)
  private var previousLines = Vector.empty[String]

  final class Round(
      val files: Seq[Seq[String]], val validIds: Set[String], val invalidIds: Set[String],
      val date: String, val localizable: Set[String], val lines: Int)

  private def dateOf(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** Round k; the priming round 0 is a quarter of the size. */
  def round(k: Int): Round = {
    val messages = if (k == 0) math.max(20, messagesPerRound / 4) else messagesPerRound
    require(k < 180, "round calendar exhausted")
    val r = rng(seed, 5000L + k)
    val dayStart = (NowMs / DayMs - 200 + k) * DayMs
    var tsNext = dayStart + 3600000L
    def ts(): Long = { tsNext += 17 + r.nextInt(20); tsNext }
    val valid = mutable.HashSet.empty[String]
    val invalid = mutable.HashSet.empty[String]
    val sightings = mutable.HashMap.empty[String, Int]
    val clusters = r.shuffle((0 until anchors / clusterSize).toVector).take(math.max(1, messages / 25))
    val anchorBudget = mutable.HashMap(clusters.map(c => c -> 30): _*)

    def loc(la: Double, lo: Double, t: Long, bad: Boolean): String = {
      val (lat, acc) =
        if (!bad) (la, 5.0 + 25.0 * r.nextDouble())
        else r.nextInt(3) match {
          case 0 => (95.0, 10.0)
          case 1 => (la, 0.0)
          case _ => (la, 500.0)
        }
      f"""{"source":"fused","provider":"gps","latitude":$lat%.7f,"longitude":$lo%.7f,"altitude":12.0,"accuracy":$acc%.2f,"speed":0.0,"bearing":0.0,"time":$t}"""
    }

    /** One planted (bssid, rssi) entry; records its event id as valid or
      * invalid. `docOk` is false for entries of documents that can never
      * decode or that are oversized. */
    def entry(raw: String, rssi: Double, t: Long, groupOk: Boolean, docOk: Boolean): (String, Int) = {
      val u = r.nextDouble()
      val (b, rs, ok) =
        if (u < 0.03) (if (r.nextBoolean()) "zz:11:22:33:44:55" else "00:00:00:00:00:00", rssi.toInt, false)
        else if (u < 0.05) (raw, if (r.nextBoolean()) 5 else -120, false)
        else (if (r.nextDouble() < 0.1) raw.toUpperCase.replace(':', '-') else raw, rssi.toInt, true)
      val norm = b.toLowerCase.replace('-', ':')
      val eid = sha256Hex(s"$t:$norm")
      if (ok && groupOk && docOk) {
        valid += eid
        sightings(norm) = sightings.getOrElse(norm, 0) + 1
      } else invalid += eid
      (b, rs)
    }

    def scanResult(docOk: Boolean, size: Int): String = {
      val u = r.nextDouble()
      val t = if (u < 0.02) NowMs - 400 * DayMs + ts() - dayStart
        else if (u < 0.03) NowMs + DayMs + ts() - dayStart
        else ts()
      val timeOk = u >= 0.03
      val badLoc = r.nextDouble() < 0.02
      val cluster = if (anchorBudget.nonEmpty && r.nextDouble() < 0.8) {
        val c = anchorBudget.keys.toVector.sorted.apply(r.nextInt(anchorBudget.size))
        anchorBudget(c) -= 1
        if (anchorBudget(c) == 0) anchorBudget -= c
        Some(c)
      } else None
      val members = cluster.toSeq.flatMap(c => c * clusterSize until (c + 1) * clusterSize)
      val (dla, dlo) = cluster.map { _ =>
        val (cla, clo) = (members.map(anchorTruth(_)._1).sum / clusterSize, members.map(anchorTruth(_)._2).sum / clusterSize)
        val (la, lo, _) = around(cla, clo, 30.0, r)
        (la, lo)
      }.getOrElse(inSquare(6000.0, r))
      val raws = members.map(a => (anchorId(a),
          clampRssi(rssiAt(Geo.haversine(dla, dlo, anchorTruth(a)._1, anchorTruth(a)._2), r)))) ++
        Seq.fill(size)((bssid(4, r.nextInt(2000000)), -60.0 - r.nextInt(35)))
      val groupOk = timeOk && !badLoc
      val res = raws.distinctBy(_._1).map { case (raw, rssi) =>
        val (b, rs) = entry(raw, rssi, t, groupOk, docOk)
        s"""{"ssid":"net","bssid":"$b","scantime":$t,"rssi":$rs,"level":2}"""
      }
      s"""{"timestamp":$t,"mode":"active","location":${loc(dla, dlo, t, badLoc)},"results":${res.mkString("[", ",", "]")}}"""
    }

    def connected(docOk: Boolean): String = {
      val t = ts()
      val (la, lo) = inSquare(6000.0, r)
      val (b, rs) = entry(bssid(5, r.nextInt(2000000)), -55.0 - r.nextInt(30), t, groupOk = true, docOk)
      s"""{"timestamp":$t,"eventId":"e$t","eventType":"CONNECTED","isCaptive":false,"wifiConnectedInfo":{"bssid":"$b","ssid":"home","linkSpeed":${100 + r.nextInt(300)},"frequency":5180,"rssi":$rs,"channelWidth":1,"is80211mcResponder":false,"isPasspointNetwork":false},"location":${loc(la, lo, t, bad = false)}}"""
    }

    def message(kind: String): String = {
      val corrupt = kind == "bad-base64" || kind == "bad-gzip"
      val oversized = kind == "oversized"
      val docOk = !corrupt && !oversized
      val scans = (0 until 1 + r.nextInt(3)).map(_ => scanResult(docOk, 3 + r.nextInt(6))) ++
        (if (oversized) Seq(scanResult(docOk = false, 600)) else Nil)
      val conn = if (r.nextDouble() < 0.2) Seq(connected(docOk)) else Nil
      val json = s"""{"osVersion":"14","model":"px${r.nextInt(9)}","device":"d","manufacturer":"acme","osName":"android","sdkInt":"34","appNameVersion":"scan-2.1","dataVersion":"1.0","wifiConnectedEvents":${conn.mkString("[", ",", "]")},"scanResults":${scans.mkString("[", ",", "]")}}"""
      val line = wire(json)
      kind match {
        case "bad-base64" => "!" + line.substring(1, line.length / 2) + "%%"
        case "bad-gzip"   => java.util.Base64.getEncoder.encodeToString(json.getBytes(StandardCharsets.UTF_8))
        case _            => line
      }
    }

    // exact shares per round, in random positions
    def share(kind: String, pct: Int) = Vector.fill(messages * pct / 100)(kind)
    val kinds = r.shuffle(share("bad-base64", 3) ++ share("bad-gzip", 2) ++ share("oversized", 1) ++
      share("replay-round", 5) ++ (if (previousLines.nonEmpty) share("replay-previous", 5) else Vector.empty))
      .padTo(messages, "ok")
    val fresh = mutable.ArrayBuffer.empty[String]
    val lines = r.shuffle(kinds).map {
      case "replay-round" if fresh.nonEmpty => fresh(r.nextInt(fresh.size))
      case "replay-previous" => previousLines(r.nextInt(previousLines.size))
      case kind => val l = message(kind); fresh += l; l
    }
    previousLines = fresh.toVector
    // three priming files make two triggers, so set-up also warms the merge
    // into an existing partition that every timed round runs
    val nFiles = if (k == 0) 3 else math.max(1, math.min(filesPerRound, messages / 75))
    val files = (0 until nFiles).map(f => lines.indices.filter(_ % nFiles == f).map(lines))
    new Round(files, valid.toSet, invalid.toSet -- valid, dateOf(dayStart),
      sightings.collect { case (b, n) if n >= 20 => b }.toSet, lines.size)
  }
}

/** serve_mixed: APs in clusters (buildings), primed into the AP state table,
  * and positioning requests whose outcome class is planted. */
final class ServeWorld(seed: Long, scale: Double) {
  import World._
  val clusters: Int = math.max(20, (250 * scale).toInt)
  val perCluster = 8
  private val r0 = rng(seed, 31)
  private val centres = Array.fill(clusters)(inSquare(8000.0, r0))
  /** (bssid, lat, lon, expired, frequency) per AP. */
  val aps: Array[(String, Double, Double, Boolean, Int)] =
    Array.tabulate(clusters * perCluster) { i =>
      val (cl, co) = centres(i / perCluster)
      val (la, lo, _) = around(cl, co, 60.0, r0)
      (bssid(6, i), la, lo, r0.nextDouble() < 0.1, if (i % 2 == 0) 2412 else 5180)
    }
  val expired: Seq[String] = aps.filter(_._4).map(_._1).toSeq

  def priming: Seq[Measurement] = {
    val r = rng(seed, 32)
    aps.toSeq.flatMap { case (b, la, lo, _, _) => measurementsOf(b, la, lo, 25 + r.nextInt(96), r) }
  }

  /** Refine batch for the writer: 20 active APs across the three
    * localizer tiers (8 WCL, 7 MLE, 5 Bayesian), the same size each time. */
  def writerBatch(j: Int): Seq[Measurement] = {
    val r = rng(seed, 4000L + j)
    r.shuffle(aps.filterNot(_._4).toVector).take(20).zipWithIndex.flatMap { case ((b, la, lo, _, _), i) =>
      val n = if (i < 8) 35 else if (i < 15) 75 else 175
      measurementsOf(b, la, lo, n, r)
    }
  }

  /** A planted request: expected class is "ok", "impossible" or "nomatch". */
  final case class Planted(req: Request, lat: Double, lon: Double, cls: String)

  def request(stream: Long, i: Long): Planted = {
    val r = rng(seed, 1000000L * (stream + 1) + i)
    val c = r.nextInt(clusters)
    val (cl, co) = centres(c)
    val (dla, dlo, _) = around(cl, co, 30.0, r)
    val local = aps.slice(c * perCluster, (c + 1) * perCluster)
    def scan(a: (String, Double, Double, Boolean, Int)) = {
      val d = Geo.haversine(dla, dlo, a._2, a._3)
      ScanInput(a._1, clampRssi(rssiAt(d, r, 3.0)), a._5)
    }
    val activeNear = local.filterNot(_._4).sortBy(a => Geo.haversine(dla, dlo, a._2, a._3))
    val expiredNear = local.filter(_._4)
    def unknown() = ScanInput(bssid(9, r.nextInt(1000000)), -60.0 - r.nextInt(30), 2412)
    val u = r.nextDouble()
    val (scans, cls) =
      if (activeNear.isEmpty || u < 0.08) (Seq.fill(1 + r.nextInt(4))(unknown()), "nomatch")
      else if (u < 0.15 && expiredNear.nonEmpty) (expiredNear.toSeq.map(scan), "nomatch")
      else if (u < 0.25) {
        val known = activeNear.take(1 + r.nextInt(4)).toSeq.map(scan)
        (known.updated(0, known.head.copy(rssi = -20.0)), "impossible")
      }
      else if (u < 0.40) (activeNear.take(1).toSeq.map(scan), "ok")
      else if (u < 0.55) ((activeNear.take(2 + r.nextInt(3)).toSeq ++ expiredNear.take(1)).map(scan) :+ unknown(), "ok")
      else (activeNear.take(2 + r.nextInt(5)).toSeq.map(scan), "ok")
    val fixed = if (cls == "impossible") scans else physical(scans)
    Planted(Request(f"s$stream-$i%07d", fixed), dla, dlo, cls)
  }

  /** Lift weak signals so that every frequency group with a strong signal
    * spans at most 45 dB, as the library's signal-physics rule requires. */
  private def physical(scans: Seq[ScanInput]): Seq[ScanInput] = {
    val strongest = scans.groupBy(_.frequencyMhz).map { case (f, g) => f -> g.map(_.rssi).max }
    scans.distinctBy(_.mac).map { s =>
      val top = strongest(s.frequencyMhz)
      if (top > -50.0 && top - s.rssi > 45.0) s.copy(rssi = top - 45.0) else s
    }
  }
}
