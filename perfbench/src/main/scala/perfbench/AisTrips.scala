package perfbench

import java.io.{File, PrintWriter}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.Pipelines
import graft.meos.{Assembly, BoxText, Boxes, MeosFunctions, Temporal, TGeom}
import graft.sources.{AisCsv, TripSink, TripSource}

/** The reference's own dataflow: raw AIS posits → trips on disk
  * (`AisCsv.read` → `Pipelines.aisToFile`), then seeded window lookups over
  * the written trips (HexWKB decode, STBox overlap join, value-at, WKT).
  *
  * Input properties `Assembly` depends on are stated and seeded: Zipf
  * posits per vessel plus one mega-vessel holding `MegaShare` of them,
  * `DupShare` exact duplicate posits and `OooShare` posits written out of
  * time order. Each ingest writes a new directory, so no per-directory
  * memo can hit. */
final class AisTrips(args: Main.Args, ops: Ops) extends Main.Workload {
  import AisTrips._

  private val rnd = new scala.util.Random(args.seed)
  private val root = new File(args.work, "ais")
  private val vessels: Array[Vessel] = generate()
  private val byMmsi = vessels.map(v => v.mmsi -> v).toMap
  /** Raw CSV rows per vessel in file order: (t, xk, yk). */
  private val raw: Array[Array[(Long, Long, Long)]] = vessels.map(rawRows)
  val nPosits: Int = raw.map(_.length).sum
  private var csvDir: File = _
  private var lastTrips: File = _

  private def generate(): Array[Vessel] = {
    val others = (1 until Vessels).map(r => 1.0 / r).toArray
    val wsum = others.sum
    val counts = Array(math.round(TotalPosits * MegaShare).toInt) ++
      others.map(w => math.max(2, (TotalPosits * (1 - MegaShare) * w / wsum).toInt))
    counts.zipWithIndex.map { case (n, i) =>
      // about one UTC day per vessel, as in a daily AIS file: the mean
      // report interval is the day over the vessel's posit count
      val step = math.max(1, 2 * (DaySeconds / n) - 1)
      val t = Array.iterate(T0 + rnd.nextInt(3600).toLong, n)(_ + 1 + rnd.nextInt(step))
      var x = -9500000L + rnd.nextInt(1000000)
      var y = 2500000L + rnd.nextInt(500000)
      val dx = rnd.nextInt(41) - 20
      val dy = rnd.nextInt(41) - 20
      val xk = Array.fill(n) { x += dx + rnd.nextInt(21) - 10; x }
      val yk = Array.fill(n) { y += dy + rnd.nextInt(21) - 10; y }
      Vessel(367000000L + i * 7919L, VesselTypes(rnd.nextInt(VesselTypes.length)), t, xk, yk)
    }
  }

  /** Kept posits plus exact duplicates, with `OooShare` of rows swapped
    * with their successor (so they arrive out of time order). */
  private def rawRows(v: Vessel): Array[(Long, Long, Long)] = {
    val rows = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    v.t.indices.foreach { i =>
      rows += ((v.t(i), v.xk(i), v.yk(i)))
      if (rnd.nextDouble() < DupShare) rows += ((v.t(i), v.xk(i), v.yk(i)))
    }
    val a = rows.toArray
    var i = 0
    while (i < a.length - 1) {
      if (a(i)._1 != a(i + 1)._1 && rnd.nextDouble() < OooShare) {
        val tmp = a(i); a(i) = a(i + 1); a(i + 1) = tmp; i += 2
      } else i += 1
    }
    a
  }

  def setup(rep: Int): Unit = {
    csvDir = new File(root, s"csv-$rep")
    csvDir.mkdirs()
    val writers = (0 until CsvFiles).map(f =>
      new PrintWriter(new File(csvDir, s"posits-$f.csv"), "UTF-8"))
    writers.foreach(_.println("MMSI,BaseDateTime,LAT,LON,VesselType"))
    vessels.indices.foreach { vi =>
      val v = vessels(vi)
      val out = writers(vi % CsvFiles)
      val vt = if (v.vt == 0) "" else v.vt.toString
      raw(vi).foreach { case (t, xk, yk) =>
        out.println(s"${v.mmsi},${Ts.format(LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC))}," +
          s"${deg(yk)},${deg(xk)},$vt")
      }
    }
    writers.foreach(_.close())
  }

  def sessionConf: Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // windows are a handful of rows: without this the join would broadcast
    // and the overlap-join rewrite (the plans layer) would never run
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.graft.overlapJoin.bucketWidthSeconds" -> "3600")

  private def suffix(traced: Boolean) = if (traced) "@trace" else ""
  private val lookupRnd = new scala.util.Random(args.seed * 31 + 7)
  private val csvScanMs, sinkMs, sinkMb = mutable.ArrayBuffer.empty[Double]

  def iteration(i: Int, cold: Boolean, traced: Boolean): Unit = {
    val spark = Ctx.spark
    val trace = Ctx.trace
    val out = new File(root, s"trips-$i")
    val ingest = if (cold) "cold" else "ingest" + suffix(traced)
    val ok = trace.op(s"ingest-$i") {
      ops.attempt(ingest, s"ingest-$i") {
        val posits = trace.span("sources", "AisCsv.read")(AisCsv.read(spark, csvDir.getPath))
        trace.span("sources", "Pipelines.aisToFile")(Pipelines.aisToFile(posits, out.getPath))
      }
    }.isDefined
    if (ok) lastTrips = out
    if (traced) probeSources(i)
    if (ok) (0 until LookupsPerIngest).foreach(j => lookup(out, i, j, traced))
  }

  /** At least three loop iterations (3 ingests, 6 lookups): fewer samples
    * let one slow operation move the medians. */
  override def minIterations: Int = 4

  /** Sources-layer probes: the CSV scan alone and the sink alone. */
  private def probeSources(i: Int): Unit = {
    val spark = Ctx.spark
    val trace = Ctx.trace
    ops.attempt("probe.csv_scan", s"csv-scan-$i") {
      trace.op(s"probe.csv-scan-$i")(trace.span("sources", "AisCsv.read+noop")(
        AisCsv.read(spark, csvDir.getPath).write.format("noop").mode("overwrite").save()))
    }.foreach { case (_, s) => csvScanMs += s * 1000 }
    val trips = Pipelines.assembleTrips(AisCsv.read(spark, csvDir.getPath)).persist()
    try {
      trips.count()
      val sinkDir = new File(root, s"sink-$i")
      ops.attempt("probe.sink", s"sink-$i") {
        trace.op(s"probe.sink-$i")(trace.span("sources", "TripSink.writeJsonLines")(
          TripSink.writeJsonLines(trips, col("mmsi"), col("vt"),
            MeosFunctions.tgeompointAsHexWkb(col("trip")), sinkDir.getPath)))
      }.foreach { case (_, s) =>
        sinkMs += s * 1000
        sinkMb += Main.dirBytes(sinkDir) / 1048576.0
      }
    } finally trips.unpersist(blocking = true)
  }

  private def windows(r: scala.util.Random): Seq[Window] = (0 until WindowsPerLookup).map { w =>
    val v = vessels(r.nextInt(vessels.length))
    val k = r.nextInt(v.t.length)
    val (cx, cy, ct) = (v.x(k), v.y(k), v.t(k))
    Window(w, cx - WinDeg, cx + WinDeg, cy - WinDeg, cy + WinDeg,
      ct - WinSec, ct + WinSec, ct + r.nextInt(2 * WinSec + 1) - WinSec)
  }

  private def lookup(dir: File, i: Int, j: Int, traced: Boolean): Unit = {
    val spark = Ctx.spark
    val trace = Ctx.trace
    val ws = windows(lookupRnd)
    val series = if (i == 0) "cold.lookup" else "lookup" + suffix(traced)
    val op = s"lookup-$i-$j"
    val res = trace.op(op) {
      ops.attempt(series, op) {
        // building the plan is lazy: the decode, box, join, value-at and WKT
        // work all runs inside the collect, where the sampler attributes it
        val trips = trace.span("sources", "TripSource.readJsonLines (plan)")(
          TripSource.readJsonLines(spark, dir.getPath))
        val joined = trace.span("meos", "Boxes+MeosFunctions (plan)") {
          val inst = col("trip.sequences").getItem(0).getField("instants")
          val boxed = trips.select(col("id"), col("trip"), Boxes.stbox(
            array_min(transform(inst, _.getField("x"))), array_max(transform(inst, _.getField("x"))),
            array_min(transform(inst, _.getField("y"))), array_max(transform(inst, _.getField("y"))),
            element_at(inst, 1).getField("t"), element_at(inst, -1).getField("t")).as("box"))
          val wdf = spark.createDataFrame(ws).select(col("wid"), Boxes.stbox(
            col("xmin"), col("xmax"), col("ymin"), col("ymax"),
            timestamp_seconds(col("tmin")), timestamp_seconds(col("tmax"))).as("wbox"),
            timestamp_seconds(col("at")).as("at"))
          wdf.join(boxed, Boxes.stboxOverlaps(col("wbox"), col("box")))
            .select(col("wid"), col("id"),
              MeosFunctions.tgeompointValueAt(col("trip"), col("at")).as("p"),
              MeosFunctions.tgeompointOut(col("trip")).as("wkt"))
        }
        trace.span("spark", "collect")(joined.collect())
      }
    }
    res.foreach { case (rows, _) =>
      val got = rows.map(r => (r.getInt(0), r.getLong(1)) ->
        (Option(r.getStruct(2)).map(p => (p.getDouble(0), p.getDouble(1))), r.getString(3))).toMap
      val want = bruteForce(ws)
      val err =
        if (got.keySet != want.keySet)
          Some(s"matches ${got.size} != brute force ${want.size}")
        else got.collectFirst {
          case (k, (p, _)) if !samePoint(p, want(k)) =>
            s"value-at of ${k._2} in window ${k._1}: $p != ${want(k)}"
          case (k, (_, wkt)) if wkt != TGeom.print(byMmsi(k._2).value) =>
            s"WKT of ${k._2} differs from its ground-truth trip"
        }
      err.foreach(ops.fail(series, op, _))
    }
  }

  private def samePoint(a: Option[(Double, Double)], b: Option[(Double, Double)]) =
    (a, b) match {
      case (None, None) => true
      case (Some((ax, ay)), Some((bx, by))) =>
        math.abs(ax - bx) <= 1e-9 && math.abs(ay - by) <= 1e-9
      case _ => false
    }

  /** Every (window, vessel) whose boxes overlap (bounds inclusive), with
    * the vessel's linearly interpolated position at the window's instant. */
  private def bruteForce(ws: Seq[Window]): Map[(Int, Long), Option[(Double, Double)]] =
    (for {
      w <- ws
      v <- vessels
      (x0, x1, y0, y1, t0, t1) = v.box
      if x0 <= w.xmax && w.xmin <= x1 && y0 <= w.ymax && w.ymin <= y1 &&
        t0 <= w.tmax && w.tmin <= t1
    } yield (w.wid, v.mmsi) -> valueAt(v, w.at)).toMap

  private def valueAt(v: Vessel, at: Long): Option[(Double, Double)] =
    if (at < v.t.head || at > v.t.last) None
    else {
      val k = java.util.Arrays.binarySearch(v.t, at)
      if (k >= 0) Some((v.x(k), v.y(k)))
      else {
        val hi = -k - 1
        val lo = hi - 1
        val f = (at - v.t(lo)).toDouble / (v.t(hi) - v.t(lo))
        Some((v.x(lo) + (v.x(hi) - v.x(lo)) * f, v.y(lo) + (v.y(hi) - v.y(lo)) * f))
      }
    }

  private val kernel = mutable.LinkedHashMap.empty[String, Double]

  def finish(traced: Boolean): Unit = {
    if (lastTrips != null) checkTrips(lastTrips)
    if (traced) probeKernels()
  }

  /** Trip count, kept posits per vessel, vessel type, and the HexWKB and
    * MF-JSON round trips of every written trip, against the generator. */
  private def checkTrips(dir: File): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
    val problems = mutable.ArrayBuffer.empty[String]
    def bad(msg: String): Unit = problems += msg
    if (lines.size != vessels.length) bad(s"trip count ${lines.size} != ${vessels.length}")
    lines.foreach { line =>
      val n = mapper.readTree(line)
      val id = n.get("id").asLong
      val hex = n.get("json").asText
      byMmsi.get(id) match {
        case None => bad(s"unknown vessel $id")
        case Some(v) =>
          val decoded = TGeom.fromHexWkb(hex)
          val inst = decoded.sequences.flatMap(_.instants).toIndexedSeq
          if (n.get("vt").asInt != v.vt) bad(s"vessel type of $id")
          else if (inst.length != v.t.length) bad(s"kept posits of $id: ${inst.length} != ${v.t.length}")
          else if (inst.indices.exists(k => inst(k).t.getEpochSecond != v.t(k) ||
              inst(k).x != v.x(k) || inst(k).y != v.y(k)))
            bad(s"decoded posits of $id differ from ground truth")
          else if (TGeom.toHexWkb(decoded) != hex) bad(s"HexWKB round trip of $id")
          else {
            val back = TGeom.fromMfJson(TGeom.toMfJson(v.value)).sequences
              .flatMap(_.instants).toIndexedSeq
            if (back.length != inst.length || back.indices.exists(k =>
                back(k).t != inst(k).t || math.abs(back(k).x - inst(k).x) > 1e-9 ||
                  math.abs(back(k).y - inst(k).y) > 1e-9))
              bad(s"MF-JSON round trip of $id")
          }
      }
    }
    ops.attempted += 1
    problems.headOption.foreach(m =>
      ops.failures += ("check-trips" -> s"$m (${problems.size} problems)"))
  }

  /** Single-thread direct calls into the meos kernels on this run's own
    * posits, each repeated for at least `ProbeSeconds`. */
  private def probeKernels(): Unit = {
    def rate(name: String, items: Int)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      var n = 0L
      while (System.nanoTime() - t0 < ProbeSeconds * 1e9) { body; n += items }
      kernel(name) = n / ((System.nanoTime() - t0) / 1e9)
    }
    val posits = vessels.indices.map(vi => raw(vi).zipWithIndex.map { case ((t, xk, yk), k) =>
      Assembly.PPosit(t * 1000000L, k.toLong, xk / 1e5, yk / 1e5)
    })
    var kept = 0L
    rate("meos.assembly.posits_per_s", nPosits) {
      kept = 0L
      posits.foreach { ps =>
        val a = new Assembly.TPointAssembler(0)
        var b = a.zero
        ps.foreach(p => b = a.reduce(b, p))
        kept += a.finish(b).n
      }
    }
    kernel("meos.assembly.kept_ratio") = kept.toDouble / nPosits
    val values = vessels.map(_.value)
    rate("meos.hexwkb.encode_per_s", values.length)(values.foreach(TGeom.toHexWkb))
    rate("meos.mfjson.encode_per_s", values.length)(values.foreach(v => TGeom.toMfJson(v)))
    val hexes = values.map(TGeom.toHexWkb)
    rate("meos.hexwkb.decode_per_s", hexes.length)(hexes.foreach(TGeom.fromHexWkb))
    rate("meos.wkt.print_per_s", values.length)(values.foreach(v => TGeom.print(v)))
    def stbox(x0: Double, x1: Double, y0: Double, y1: Double, t0: Long, t1: Long) =
      BoxText.STBoxV(Temporal.DefaultSrid, x0, y0, x1, y1, None, None, hasXY = true,
        Some(BoxText.Span(Instant.ofEpochSecond(t0), Instant.ofEpochSecond(t1), true, true)))
    val boxes = vessels.map(v => (stbox _).tupled(v.box))
    val wins = windows(new scala.util.Random(args.seed)).map(w =>
      stbox(w.xmin, w.xmax, w.ymin, w.ymax, w.tmin, w.tmax))
    var hits = 0
    rate("meos.stbox.overlaps_per_s", boxes.length * wins.length) {
      wins.foreach(w => boxes.foreach(b => if (BoxText.stboxOverlaps(w, b)) hits += 1))
    }
  }

  def endToEnd(sfx: String): Map[String, (Double, Int)] = {
    val ingest = ops.series("ingest" + sfx)
    val look = ops.series("lookup" + sfx)
    val cold = ops.series("cold") ++ ops.series("cold.lookup")
    Map(
      "throughput_per_s" -> (if (ingest.isEmpty) 0.0 else nPosits / Stats.median(ingest), ingest.size),
      "latency_p50_ms" -> (if (look.isEmpty) 0.0 else Stats.median(look) * 1000, look.size),
      "latency_p90_ms" -> (if (look.isEmpty) 0.0 else Stats.pct(look, 0.9) * 1000, look.size)) ++
      (if (sfx.isEmpty) Map("cold_s" -> (cold.sum, cold.size)) else Map.empty)
  }

  def named: Seq[Main.Named] = {
    val e = endToEnd("")
    val look = ops.series("lookup")
    Seq(
      Main.Named("ingest_posits_per_s", e("throughput_per_s")._1, "posits/s", e("throughput_per_s")._2),
      Main.Named("lookup_p50_ms", e("latency_p50_ms")._1, "ms", look.size),
      Main.Named("lookup_p90_ms", e("latency_p90_ms")._1, "ms",
        if (look.isEmpty) 0 else Stats.beyond(look, 0.9)),
      Main.Named("cold_s", e("cold_s")._1, "s", e("cold_s")._2))
  }

  def layers: Map[String, Double] = kernel.toMap ++ Map(
    "sources.csv_scan_ms" -> (if (csvScanMs.isEmpty) 0.0 else Stats.median(csvScanMs.toSeq)),
    "sources.sink_ms" -> (if (sinkMs.isEmpty) 0.0 else Stats.median(sinkMs.toSeq)),
    "sources.sink_mb" -> (if (sinkMb.isEmpty) 0.0 else Stats.median(sinkMb.toSeq)))
}

object AisTrips {
  /** Ground truth: per vessel, its kept posits (distinct timestamps, time
    * order) and its vessel type. */
  final case class Vessel(mmsi: Long, vt: Int, t: Array[Long],
                          xk: Array[Long], yk: Array[Long]) {
    def x(i: Int): Double = xk(i) / 1e5
    def y(i: Int): Double = yk(i) / 1e5
    lazy val value: TGeom.Val = TGeom.Val(TGeom.SubSequence, Temporal.DefaultSrid,
      Temporal.InterpLinear, Seq(TGeom.GSeq(t.indices.map(i =>
        TGeom.GInst(Instant.ofEpochSecond(t(i)), x(i), y(i))), Temporal.InterpLinear,
        lower_inc = true, upper_inc = true)))
    lazy val box: (Double, Double, Double, Double, Long, Long) =
      (xk.min / 1e5, xk.max / 1e5, yk.min / 1e5, yk.max / 1e5, t.head, t.last)
  }

  final case class Window(wid: Int, xmin: Double, xmax: Double,
                          ymin: Double, ymax: Double, tmin: Long,
                          tmax: Long, at: Long)

  /** Sized from traced runs (WORKLOADS.md, *Sizing*): at this size a
    * lookup is about three times the per-action floor and `meos` is its
    * largest engine layer, within the run budget. */
  val Vessels = 1000
  val TotalPosits = 150000
  /** Assumed stress values, not measured from a dataset: high enough that
    * `Assembly`'s skew, dedup and re-sort paths run in every ingest. */
  val MegaShare = 0.2
  val DupShare = 0.05
  val OooShare = 0.1
  val CsvFiles = 4
  val LookupsPerIngest = 2
  val WindowsPerLookup = 8
  val WinDeg = 0.05
  val WinSec = 1800
  val ProbeSeconds = 0.2
  val VesselTypes = Array(0, 30, 60, 70, 80)
  val T0: Long = 1704067200L // 2024-01-01T00:00:00Z
  val DaySeconds = 86400
  val Ts: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** Fixed-point degrees (1e-5) as decimal text, without float formatting. */
  def deg(k: Long): String = {
    val a = math.abs(k)
    (if (k < 0) "-" else "") + s"${a / 100000}." + f"${a % 100000}%05d"
  }
}
