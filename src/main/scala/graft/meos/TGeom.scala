package graft.meos

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneId, ZoneOffset}

/** In-memory model + text/binary codecs for temporal geometry points —
  * the value algebra the reference exposes through MEOS FFI:
  * parse `tgeompoint_in` (`meos/src/tinst.rs:24`, `tseq.rs:28`,
  * `tset.rs:28`), print `tsequence_out` (`tseq.rs:66-72`), MF-JSON
  * (`temp.rs:17-19,40-47`), extended WKB/HexWKB (`temp.rs:21-38`).
  *
  * Pure JVM (no Spark imports) so the same code backs UDFs, tests, and a
  * future codegen'd Expression. Field names carry snake_case to match the
  * engine's public struct schema ([[Temporal]]).
  *
  * Grammar covered (all six literal forms of
  * `meos/examples/01_hello_world.rs:8-56` + the ingest form
  * `SRID=4326;Point(lon lat)@ts+00`, `04_to_file.rs:146-148`):
  *   [SRID=n;][Interp=Step;] instant | {discrete} | [continuous] |
  *   {[seq], [seq]}   with ()/[] bounds inclusivity.
  */
object TGeom {

  val SubInstant = 1
  val SubSequence = 2
  val SubSequenceSet = 3

  /** One observed position: timestamp + 2-D point, optional Z — MEOS
    * tgeompoint carries an optional third dimension (the `STBOX Z` golden,
    * `meos/src/stbox.rs:120`, is its box projection). */
  case class GInst(t: Instant, x: Double, y: Double,
                   z: Option[Double] = None)
  case class GSeq(instants: Seq[GInst], interp: Int,
                  `lower_inc`: Boolean, `upper_inc`: Boolean)
  case class Val(subtype: Int, srid: Int, interp: Int, sequences: Seq[GSeq])

  final class ParseError(msg: String) extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw new ParseError(msg)

  /** Subtype-guard failure — the reference's `Error::WrongTemporalType`
    * ("expected a different meos type", `meos/src/error.rs:3-13`), raised
    * when a WKT parses fine but to the wrong temporal shape
    * (`tinst.rs:32`, `tseq.rs:36`, `tset.rs:36`). */
  final class WrongTemporalType(expected: Int, got: Int)
      extends IllegalArgumentException(
        s"expected a different meos type " +
          s"(${TGeom.subtypeName(expected)}, got ${TGeom.subtypeName(got)})")

  private def subtypeName(s: Int): String = s match {
    case SubInstant => "Instant"
    case SubSequence => "Sequence"
    case SubSequenceSet => "SequenceSet"
    case _ => s"?$s"
  }

  /** Guarded constructors, one per subtype — `TInst::from_wkt` /
    * `TSeq::from_wkt` / `TSet::from_wkt`: parse with the full grammar,
    * then reject any result whose shape is not the requested subtype. */
  private def parseAs(wkt: String, expected: Int): Val = {
    val v = parse(wkt)
    if (v.subtype != expected) throw new WrongTemporalType(expected, v.subtype)
    v
  }
  def parseInst(wkt: String): Val = parseAs(wkt, SubInstant)
  def parseSeq(wkt: String): Val = parseAs(wkt, SubSequence)
  def parseSet(wkt: String): Val = parseAs(wkt, SubSequenceSet)

  // ---- timestamp text ------------------------------------------------------

  private val TsRe =
    """(\d{4}-\d{2}-\d{2})(?:[T ](\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?))?\s*(Z|[+-]\d{2}(?::?\d{2})?)?""".r

  /** Parse MEOS timestamp text: date-only, `T` or space separator, optional
    * offset (`+00`, `-05`, `+00:00`, `Z`); no offset ⇒ interpreted in
    * `zone` — MEOS resolves offset-less literals in the session timezone
    * (the tbox.rs goldens were recorded under America/New_York; our engine
    * default stays UTC, SURVEY.md §1.2). */
  def parseTs(s: String): Instant = parseTs(s, ZoneOffset.UTC)
  def parseTs(s: String, zone: ZoneId): Instant = s.trim match {
    case TsRe(date, time, off) =>
      val t = if (time == null) "00:00:00"
        else if (time.length == 5) time + ":00" else time
      val ldt = LocalDateTime.parse(s"${date}T$t")
      off match {
        case null => ldt.atZone(zone).toInstant // zone rules incl. DST
        case "Z" => ldt.toInstant(ZoneOffset.UTC)
        case o if o.length == 3 => ldt.toInstant(ZoneOffset.of(o + ":00"))
        case o => ldt.toInstant(ZoneOffset.of(o))
      }
    case other => fail(s"bad timestamp: '$other'")
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val IsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def pad2(sb: java.lang.StringBuilder, v: Int): Unit =
    sb.append(('0' + v / 10).toChar).append(('0' + v % 10).toChar)

  /** Postgres-style short offset: `+00`, `-05`, `+05:30` (minutes only when
    * nonzero — matches MEOS goldens `2001-01-01 00:00:00-05`, tbox.rs:138).
    * Offset seconds (pre-1900 LMT zones) are dropped. */
  private def fmtOffset(o: ZoneOffset): String = {
    val tot = o.getTotalSeconds
    val a = math.abs(tot)
    val sb = new java.lang.StringBuilder(6).append(if (tot < 0) '-' else '+')
    pad2(sb, a / 3600)
    val mm = (a % 3600) / 60
    if (mm != 0) pad2(sb.append(':'), mm)
    sb.toString
  }

  /** Micros-of-second with trailing zeros stripped; nothing when zero.
    * Sub-µs nanos are truncated first — MEOS resolution is µs, and
    * stripping zeros from a '000000' fraction would otherwise leave a
    * dangling dot. */
  private def appendFrac(sb: java.lang.StringBuilder, t: Instant): Unit = {
    var us = t.getNano / 1000
    if (us != 0) {
      var width = 6 // digits left after stripping, leading zeros included
      while (us % 10 == 0) { us /= 10; width -= 1 }
      var len = 1
      var rest = us / 10
      while (rest > 0) { len += 1; rest /= 10 }
      sb.append('.')
      while (width > len) { sb.append('0'); width -= 1 }
      sb.append(us)
    }
  }

  /** Timestamp printer for one zone, reused across the instants of one
    * print: the offset text is computed once for a fixed-offset zone and
    * only when the offset changes otherwise (DST zones), and the date and
    * time fields are written without a `DateTimeFormatter` for years
    * 1–9999 (outside that range the formatter's sign/era rules apply). */
  private final class TsPrinter(zone: ZoneId, sep: Char) {
    private val rules = zone.getRules
    private var off: ZoneOffset =
      if (rules.isFixedOffset) rules.getOffset(Instant.EPOCH) else null
    private var offText = if (off == null) null else fmtOffset(off)

    def append(sb: java.lang.StringBuilder, t: Instant): Unit = {
      if (!rules.isFixedOffset) {
        val o = rules.getOffset(t)
        if (off == null || o.getTotalSeconds != off.getTotalSeconds) {
          off = o; offText = fmtOffset(o)
        }
      }
      val ldt = LocalDateTime.ofEpochSecond(t.getEpochSecond, 0, off)
      val y = ldt.getYear
      if (y >= 1 && y <= 9999) {
        sb.append((y / 1000 + '0').toChar)
        sb.append((y / 100 % 10 + '0').toChar)
        pad2(sb, y % 100)
        pad2(sb.append('-'), ldt.getMonthValue)
        pad2(sb.append('-'), ldt.getDayOfMonth)
        pad2(sb.append(sep), ldt.getHour)
        pad2(sb.append(':'), ldt.getMinute)
        pad2(sb.append(':'), ldt.getSecond)
      } else
        sb.append((if (sep == 'T') IsoFmt else TsFmt).format(ldt))
      appendFrac(sb, t)
      sb.append(offText)
    }

    def format(t: Instant): String = {
      val sb = new java.lang.StringBuilder(32)
      append(sb, t)
      sb.toString
    }
  }

  /** MEOS renders timestamptz in the session timezone with a short offset —
    * goldens like `2001-01-01 00:00:00-05` (`tbox.rs:138`). `zone` defaults
    * to UTC (`+00`); pass the Spark session timezone to reproduce non-UTC
    * goldens. Sub-second micros printed only when nonzero. */
  def fmtTs(t: Instant): String = fmtTs(t, ZoneOffset.UTC)
  def fmtTs(t: Instant, zone: ZoneId): String =
    new TsPrinter(zone, ' ').format(t)

  /** MF-JSON datetimes: ISO 'T' separator, same offset convention. */
  def fmtTsIso(t: Instant): String = fmtTsIso(t, ZoneOffset.UTC)
  def fmtTsIso(t: Instant, zone: ZoneId): String =
    new TsPrinter(zone, 'T').format(t)

  // ---- float text (MEOS min-digit printing: 1.0 → "1", tbox.rs:132-133) ---

  def fmtFloat(v: Double, maxdd: Int = 15): String = {
    if (v.isNaN) return "NaN"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    // BigDecimal(v) starts from Double.toString's digits: when they have no
    // exponent and need no rounding at maxdd, only the zeros go
    val d = java.lang.Double.toString(v)
    if (d.indexOf('E') < 0) {
      val dot = d.indexOf('.')
      var end = d.length
      while (d.charAt(end - 1) == '0') end -= 1
      if (end - dot - 1 <= maxdd) {
        val s = d.substring(0, if (end == dot + 1) dot else end)
        return if (s == "-0") "0" else s
      }
    }
    val bd = BigDecimal(v).setScale(maxdd, BigDecimal.RoundingMode.HALF_EVEN)
    val s = bd.underlying.stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  // ---- WKT parse -----------------------------------------------------------

  // 2-D `POINT(x y)` or 3-D `POINT Z (x y z)` / `POINT(x y z)` — MEOS
  // accepts both spellings for the optional third dimension
  private val PointRe =
    ("""(?i)point\s*z?\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)""" +
      """(?:\s+([-+0-9.eE]+))?\s*\)\s*@\s*(.+)""").r

  private def parseInstant(s: String): GInst = s.trim match {
    case PointRe(x, y, z, ts) =>
      GInst(parseTs(ts), x.toDouble, y.toDouble,
        Option(z).map(_.toDouble))
    case other => fail(s"bad instant: '$other'")
  }

  /** Split on top-level commas (no nesting inside instants, but sequence
    * sets nest one level of brackets). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '[' | '(' | '{' => depth += 1
        case ']' | ')' | '}' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def parseContinuousSeq(s: String, interp: Int): GSeq = {
    val lower = s.head match {
      case '[' => true
      case '(' => false
      case c => fail(s"bad sequence open bound '$c'")
    }
    val upper = s.last match {
      case ']' => true
      case ')' => false
      case c => fail(s"bad sequence close bound '$c'")
    }
    val body = s.substring(1, s.length - 1)
    // `point(..)` contains parens — splitTop handles them as depth, so
    // bounds chars were already stripped before the split.
    val insts = splitTop(body).map(parseInstant)
    if (insts.isEmpty) fail("empty sequence")
    GSeq(insts, interp, lower, upper)
  }

  def parse(wkt: String): Val = {
    var s = wkt.trim
    var srid = 0
    if (s.toUpperCase.startsWith("SRID=")) {
      val i = s.indexOf(';')
      if (i < 0) fail("SRID= without ';'")
      srid = s.substring(5, i).trim.toInt
      s = s.substring(i + 1).trim
    }
    var interpOverride = -1
    if (s.toLowerCase.startsWith("interp=")) {
      val i = s.indexOf(';')
      if (i < 0) fail("Interp= without ';'")
      interpOverride = s.substring(7, i).trim.toLowerCase match {
        case "step" => Temporal.InterpStep
        case "linear" => Temporal.InterpLinear
        case "discrete" => Temporal.InterpDiscrete
        case "none" => Temporal.InterpNone
        case o => fail(s"bad interpolation '$o'")
      }
      s = s.substring(i + 1).trim
    }
    def interpOr(dflt: Int): Int =
      if (interpOverride >= 0) interpOverride else dflt

    if (s.startsWith("{")) {
      val inner = s.substring(1, s.length - 1).trim
      if (inner.startsWith("[") || inner.startsWith("(")) {
        // sequence set
        val interp = interpOr(Temporal.InterpLinear)
        val seqs = splitTop(inner).map(parseContinuousSeq(_, interp))
        Val(SubSequenceSet, srid, interp, seqs)
      } else {
        // discrete sequence: `{P@t1, P@t2}` (01_hello_world.rs:14)
        val insts = splitTop(inner).map(parseInstant)
        val seq = GSeq(insts, Temporal.InterpDiscrete, `lower_inc` = true,
          `upper_inc` = true)
        Val(SubSequence, srid, Temporal.InterpDiscrete, Seq(seq))
      }
    } else if (s.startsWith("[") || s.startsWith("(")) {
      val interp = interpOr(Temporal.InterpLinear)
      Val(SubSequence, srid, interp, Seq(parseContinuousSeq(s, interp)))
    } else {
      val inst = parseInstant(s)
      Val(SubInstant, srid, Temporal.InterpNone,
        Seq(GSeq(Seq(inst), Temporal.InterpNone, `lower_inc` = true,
          `upper_inc` = true)))
    }
  }

  // ---- WKT print -----------------------------------------------------------

  private def appendInstant(sb: java.lang.StringBuilder, i: GInst, maxdd: Int,
                            ts: TsPrinter): Unit = {
    i.z match {
      case Some(zv) =>
        sb.append("POINT Z (").append(fmtFloat(i.x, maxdd)).append(' ')
          .append(fmtFloat(i.y, maxdd)).append(' ')
          .append(fmtFloat(zv, maxdd))
      case None =>
        sb.append("POINT(").append(fmtFloat(i.x, maxdd)).append(' ')
          .append(fmtFloat(i.y, maxdd))
    }
    ts.append(sb.append(")@"), i.t)
  }

  private def appendSeq(sb: java.lang.StringBuilder, q: GSeq, maxdd: Int,
                        ts: TsPrinter): Unit = {
    val discrete = q.interp == Temporal.InterpDiscrete
    sb.append(if (discrete) '{' else if (q.`lower_inc`) '[' else '(')
    var first = true
    q.instants.foreach { i =>
      if (!first) sb.append(", ")
      appendInstant(sb, i, maxdd, ts)
      first = false
    }
    sb.append(if (discrete) '}' else if (q.`upper_inc`) ']' else ')')
  }

  /** Print as MEOS WKT (`tsequence_out(maxdd)`, `tseq.rs:66-72`). The
    * `Interp=Step;` prefix mirrors the parse grammar; SRID prefix emitted
    * when nonzero (the extended/ingest form). `zone` renders timestamps in
    * a session timezone — MEOS prints timestamptz session-locally (golden
    * `2001-01-01 00:00:00-05`, tbox.rs:138); UTC default. */
  def print(v: Val, maxdd: Int = 15): String = print(v, maxdd, ZoneOffset.UTC)
  def print(v: Val, maxdd: Int, zone: ZoneId): String = {
    val sb = new java.lang.StringBuilder(64)
    if (v.srid != 0) sb.append("SRID=").append(v.srid).append(';')
    if (v.interp == Temporal.InterpStep) sb.append("Interp=Step;")
    val ts = new TsPrinter(zone, ' ')
    v.subtype match {
      case SubInstant =>
        appendInstant(sb, v.sequences.head.instants.head, maxdd, ts)
      case SubSequence => appendSeq(sb, v.sequences.head, maxdd, ts)
      case SubSequenceSet =>
        sb.append('{')
        var first = true
        v.sequences.foreach { q =>
          if (!first) sb.append(", ")
          appendSeq(sb, q, maxdd, ts)
          first = false
        }
        sb.append('}')
      case o => fail(s"bad subtype $o")
    }
    sb.toString
  }

  // ---- MF-JSON (OGC Moving Features JSON; MEOS `temporal_as_mfjson`) ------

  private def interpName(i: Int): String = i match {
    case Temporal.InterpNone => "None"
    case Temporal.InterpDiscrete => "Discrete"
    case Temporal.InterpStep => "Step"
    case Temporal.InterpLinear => "Linear"
    case _ => "None"
  }

  // Minimal ordered JSON model so one builder serves every print variant.
  // MEOS renders MF-JSON through json-c's json_object_to_json_string_ext
  // (json-c is in the reference's link line, meos-sys/build.rs); the
  // `variant` arg is json-c's flag word: bit0 SPACED, bit1 PRETTY —
  // the raw test's variant 3 (tests/01_hello_world.rs:18) is both.
  private sealed trait J
  private final case class JRaw(s: String) extends J // pre-formatted scalar
  private final case class JStrV(s: String) extends J
  private final case class JArr(items: Seq[J]) extends J
  private final case class JObjV(fields: Seq[(String, J)]) extends J

  private def renderJson(j: J, variant: Int): String = {
    val spaced = (variant & 1) != 0
    val pretty = (variant & 2) != 0
    val colon = if (spaced) ": " else ":"
    val sb = new StringBuilder
    def indent(d: Int): Unit = { sb.append('\n'); sb.append("  " * d) }
    def go(j: J, d: Int): Unit = j match {
      case JRaw(s) => sb.append(s)
      case JStrV(s) => sb.append('"').append(s).append('"')
      case JArr(items) =>
        if (items.isEmpty) sb.append("[]")
        else {
          sb.append('[')
          items.zipWithIndex.foreach { case (it, k) =>
            if (k > 0) sb.append(',')
            if (pretty) indent(d + 1)
            else if (spaced && k > 0) sb.append(' ')
            go(it, d + 1)
          }
          if (pretty) indent(d)
          sb.append(']')
        }
      case JObjV(fields) =>
        if (fields.isEmpty) sb.append("{}")
        else {
          sb.append('{')
          fields.zipWithIndex.foreach { case ((k, it), i) =>
            if (i > 0) sb.append(',')
            if (pretty) indent(d + 1)
            else if (spaced) sb.append(' ')
            sb.append('"').append(k).append('"').append(colon)
            go(it, d + 1)
          }
          if (pretty) indent(d) else if (spaced) sb.append(' ')
          sb.append('}')
        }
    }
    go(j, 0)
    sb.toString
  }

  private def jsonStr(s: String): String = "\"" + s + "\""

  private def coordsJ(insts: Seq[GInst], precision: Int): J =
    JArr(insts.map(i => JArr(
      Seq(JRaw(fmtFloat(i.x, precision)), JRaw(fmtFloat(i.y, precision))) ++
        i.z.map(zv => JRaw(fmtFloat(zv, precision))))))

  private def datetimesJ(insts: Seq[GInst], ts: TsPrinter): J =
    JArr(insts.map(i => JStrV(ts.format(i.t))))

  /** Emit MF-JSON with the reference's full argument surface
    * (`temporal_as_mfjson(ptr, with_bbox, variant, precision, srs)`,
    * `temp.rs:17-19,40-47`): `variant` bit0 = spaced, bit1 = pretty
    * (json-c flags; the raw test passes 3); `srs` overrides the
    * `EPSG:<srid>` crs name; `zone` renders datetimes in a session
    * timezone (UTC default). */
  def toMfJson(v: Val, withBbox: Boolean = true, precision: Int = 6,
               variant: Int = 0, srs: String = null,
               zone: ZoneId = ZoneOffset.UTC): String = {
    val all = v.sequences.flatMap(_.instants)
    val ts = new TsPrinter(zone, 'T')
    val fields = Seq.newBuilder[(String, J)]
    fields += "type" -> JStrV("MovingGeomPoint")
    val crsName = Option(srs).orElse(
      if (v.srid != 0) Some(s"EPSG:${v.srid}") else None)
    crsName.foreach { name =>
      fields += "crs" -> JObjV(Seq(
        "type" -> JStrV("Name"),
        "properties" -> JObjV(Seq("name" -> JStrV(name)))))
    }
    if (withBbox && all.nonEmpty) {
      val xs = all.map(_.x); val ys = all.map(_.y)
      fields += "bbox" -> JArr(Seq(
        JArr(Seq(JRaw(fmtFloat(xs.min, precision)),
          JRaw(fmtFloat(ys.min, precision)))),
        JArr(Seq(JRaw(fmtFloat(xs.max, precision)),
          JRaw(fmtFloat(ys.max, precision))))))
      fields += "period" -> JObjV(Seq(
        "begin" -> JStrV(ts.format(all.map(_.t).min)),
        "end" -> JStrV(ts.format(all.map(_.t).max))))
    }
    v.subtype match {
      case SubInstant | SubSequence =>
        val q = v.sequences.head
        fields += "coordinates" -> coordsJ(q.instants, precision)
        fields += "datetimes" -> datetimesJ(q.instants, ts)
        if (v.subtype == SubSequence && v.interp != Temporal.InterpDiscrete) {
          fields += "lower_inc" -> JRaw(q.`lower_inc`.toString)
          fields += "upper_inc" -> JRaw(q.`upper_inc`.toString)
        }
      case SubSequenceSet =>
        fields += "sequences" -> JArr(v.sequences.map(q => JObjV(Seq(
          "coordinates" -> coordsJ(q.instants, precision),
          "datetimes" -> datetimesJ(q.instants, ts),
          "lower_inc" -> JRaw(q.`lower_inc`.toString),
          "upper_inc" -> JRaw(q.`upper_inc`.toString)))))
      case _ =>
    }
    fields += "interpolation" -> JStrV(interpName(v.interp))
    renderJson(JObjV(fields.result()), variant)
  }

  /** Parse MF-JSON back to a temporal value — the inverse of
    * [[toMfJson]]. The reference only PRINTS MF-JSON
    * (`meos/src/temp.rs:17-19`); the parse leg completes this engine's
    * codec matrix (WKT ⇄, WKB ⇄, MF-JSON ⇄) so MF-JSON interchange files
    * can be INGESTED, not just produced. Accepts every shape the printer
    * emits (instant / sequence / sequence set, optional crs/bbox/period,
    * spaced/pretty variants — whitespace is insignificant in JSON), plus
    * MovingFloat's x-only coordinate rows are rejected with a clear
    * error (this is the tgeompoint codec). Subtype inference mirrors the
    * printer: a `sequences` field ⇒ sequence set; interpolation "None"
    * with one coordinate ⇒ instant; anything else ⇒ one sequence.
    * Jackson (on every Spark classpath) does the JSON tree walk. */
  // shared parser: ObjectMapper construction is Jackson's expensive op
  // (type-factory/serializer caches) and readTree is thread-safe — one
  // instance serves every row of the UDF leg
  private lazy val mfJsonMapper =
    new com.fasterxml.jackson.databind.ObjectMapper

  def fromMfJson(json: String): Val = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    val root =
      try mfJsonMapper.readTree(json)
      catch { case e: Exception => fail(s"bad MF-JSON: ${e.getMessage}") }
    if (root == null || !root.isObject) fail("bad MF-JSON: not an object")
    val typ = Option(root.get("type")).map(_.asText()).orNull
    if (typ != "MovingGeomPoint")
      fail(s"bad MF-JSON: type '$typ' (expected MovingGeomPoint)")
    val srid = Option(root.path("crs").path("properties").path("name")
      .asText(null)) match {
      case Some(n) if n.startsWith("EPSG:") =>
        try n.stripPrefix("EPSG:").toInt catch { case _: Exception => 0 }
      case _ => 0
    }
    val interp = Option(root.get("interpolation")).map(_.asText())
      .getOrElse("None") match {
      case "None" => Temporal.InterpNone
      case "Discrete" => Temporal.InterpDiscrete
      case "Step" => Temporal.InterpStep
      case "Linear" => Temporal.InterpLinear
      case other => fail(s"bad MF-JSON interpolation: '$other'")
    }
    def instants(node: JsonNode): Seq[GInst] = {
      val coords = Option(node.get("coordinates"))
        .getOrElse(fail("bad MF-JSON: missing coordinates"))
      val times = Option(node.get("datetimes"))
        .getOrElse(fail("bad MF-JSON: missing datetimes"))
      if (coords.size != times.size)
        fail(s"bad MF-JSON: ${coords.size} coordinates vs " +
          s"${times.size} datetimes")
      coords.elements().asScala.zip(times.elements().asScala).map {
        case (c, t) =>
          if (!c.isArray || c.size < 2 || c.size > 3)
            fail(s"bad MF-JSON coordinate arity ${c.size} (point needs " +
              "[x, y] or [x, y, z])")
          GInst(parseTs(t.asText()), c.get(0).asDouble(), c.get(1).asDouble(),
            if (c.size == 3) Some(c.get(2).asDouble()) else None)
      }.toSeq
    }
    def bound(node: JsonNode, name: String): Boolean =
      Option(node.get(name)).forall(_.asBoolean(true))
    Option(root.get("sequences")) match {
      case Some(seqs) =>
        val qs = seqs.elements().asScala.map { q =>
          val is = instants(q)
          if (is.isEmpty) fail("bad MF-JSON: sequence with no instants")
          GSeq(is, interp, bound(q, "lower_inc"),
            bound(q, "upper_inc"))
        }.toSeq
        if (qs.isEmpty) fail("bad MF-JSON: empty sequences")
        Val(SubSequenceSet, srid, interp, qs)
      case None =>
        val is = instants(root)
        if (is.isEmpty) fail("bad MF-JSON: no instants")
        if (interp == Temporal.InterpNone && is.size == 1)
          Val(SubInstant, srid, interp,
            Seq(GSeq(is, interp, `lower_inc` = true, `upper_inc` = true)))
        else
          Val(SubSequence, srid, interp,
            Seq(GSeq(is, interp, bound(root, "lower_inc"),
              bound(root, "upper_inc"))))
    }
  }

  // ---- extended WKB (temp.rs:21-38; flags WKB_EXTENDED|WKB_NDR|WKB_HEX) ---
  //
  // The DEFAULT binary codec is the MobilityDB-layout format
  // ([[MobilityWkb]]) — the bytes the reference's sink feeds to
  // `tgeompointFromBinary` must parse on a real MobilityDB. The round-1
  // self-describing layout below remains as the legacy option:
  //   u8  0x01                     byte order marker (NDR)
  //   u8  flags: bits0-1 subtype, bit2 hasSRID, bits4-5 interp
  //   i32 srid                     (iff hasSRID — the "extended" part)
  //   subtype payload:
  //     instant:  f64 x, f64 y, i64 t(us, UNIX epoch)
  //     sequence: u8 bounds(lower|upper<<1), i32 n, n×instant
  //     seqset:   i32 nseq, nseq×sequence

  def toWkb(v: Val): Array[Byte] = MobilityWkb.toWkb(v)
  def fromWkb(bytes: Array[Byte]): Val = MobilityWkb.fromWkb(bytes)

  private def usOf(t: Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
      (t.getNano / 1000).toLong)
  private def instOf(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  def toWkbLegacy(v: Val): Array[Byte] = {
    val buf = java.nio.ByteBuffer
      .allocate(16 + v.sequences.map(q => 8 + q.instants.size * 24).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(0x01.toByte)
    val hasSrid = v.srid != 0
    buf.put(((v.subtype & 0x3) | (if (hasSrid) 0x4 else 0) |
      ((v.interp & 0x3) << 4)).toByte)
    if (hasSrid) buf.putInt(v.srid)
    def putInst(i: GInst): Unit = {
      buf.putDouble(i.x); buf.putDouble(i.y); buf.putLong(usOf(i.t))
    }
    def putSeq(q: GSeq): Unit = {
      buf.put((((if (q.`lower_inc`) 1 else 0)) |
        (if (q.`upper_inc`) 2 else 0)).toByte)
      buf.putInt(q.instants.size)
      q.instants.foreach(putInst)
    }
    v.subtype match {
      case SubInstant => putInst(v.sequences.head.instants.head)
      case SubSequence => putSeq(v.sequences.head)
      case SubSequenceSet =>
        buf.putInt(v.sequences.size); v.sequences.foreach(putSeq)
      case o => fail(s"bad subtype $o")
    }
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  def fromWkbLegacy(bytes: Array[Byte]): Val = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (buf.get() != 0x01) fail("bad byte-order marker")
    val flags = buf.get()
    val subtype = flags & 0x3
    val srid = if ((flags & 0x4) != 0) buf.getInt() else 0
    val interp = (flags >> 4) & 0x3
    def getInst(): GInst = {
      val x = buf.getDouble(); val y = buf.getDouble()
      GInst(instOf(buf.getLong()), x, y)
    }
    def getSeq(i: Int): GSeq = {
      val b = buf.get()
      val n = buf.getInt()
      GSeq((0 until n).map(_ => getInst()), i, (b & 1) != 0, (b & 2) != 0)
    }
    subtype match {
      case SubInstant =>
        Val(SubInstant, srid, interp,
          Seq(GSeq(Seq(getInst()), interp, `lower_inc` = true,
            `upper_inc` = true)))
      case SubSequence => Val(SubSequence, srid, interp, Seq(getSeq(interp)))
      case SubSequenceSet =>
        val n = buf.getInt()
        Val(SubSequenceSet, srid, interp, (0 until n).map(_ => getSeq(interp)))
      case o => fail(s"bad subtype $o")
    }
  }

  private val HexChars = "0123456789ABCDEF".toCharArray

  private def toHex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach { byte =>
      sb.append(HexChars((byte >> 4) & 0xf)).append(HexChars(byte & 0xf))
    }
    sb.toString
  }

  /** HexWKB: uppercase hex of [[toWkb]] (`temporal_as_hexwkb`,
    * `temp.rs:30-38`). */
  def toHexWkb(v: Val): String = toHex(toWkb(v))
  def toHexWkbLegacy(v: Val): String = toHex(toWkbLegacy(v))

  /** Hex digit values (either case) by character code below 256; -1 for
    * every other code. */
  private val HexVal: Array[Byte] = Array.tabulate[Byte](256) { c =>
    if (c >= '0' && c <= '9') (c - '0').toByte
    else if (c >= 'A' && c <= 'F') (c - 'A' + 10).toByte
    else if (c >= 'a' && c <= 'f') (c - 'a' + 10).toByte
    else -1
  }

  private def hexDigit(c: Int): Int = if ((c & ~0xff) == 0) HexVal(c) else -1

  /** The byte spelled by the hex digits `hi` `lo`, which sit at character
    * offsets `at` and `at + 1` of a HexWKB text. Anything but two hex
    * digits — a sign, a blank, a non-ASCII byte — is a [[ParseError]]
    * naming the offending offset. Shared by [[fromHexWkb]] and the
    * native decoder ([[WkbBridge]]), so both reject the same texts. */
  private[meos] def hexByte(hi: Int, lo: Int, at: Int): Int = {
    val h = hexDigit(hi)
    val l = hexDigit(lo)
    if ((h | l) < 0)
      if (h < 0) badHexDigit(hi, at) else badHexDigit(lo, at + 1)
    (h << 4) | l
  }

  private def badHexDigit(c: Int, at: Int): Nothing = {
    val shown = if (c > 0x20 && c < 0x7f) s"'${c.toChar}'" else f"0x$c%02X"
    fail(s"malformed HexWKB: $shown at offset $at is not a hex digit")
  }

  /** HexWKB spells each byte with two digits: an odd length is a
    * [[ParseError]] at the unpaired last offset. */
  private[meos] def checkHexLength(n: Int): Unit =
    if ((n & 1) != 0)
      fail(s"malformed HexWKB: odd length $n, offset ${n - 1} has no pair")

  private def unhex(hex: String): Array[Byte] = {
    val n = hex.length
    checkHexLength(n)
    val out = new Array[Byte](n / 2)
    var i = 0
    while (i < n) {
      out(i >> 1) = hexByte(hex.charAt(i), hex.charAt(i + 1), i).toByte
      i += 2
    }
    out
  }

  def fromHexWkb(hex: String): Val = fromWkb(unhex(hex))
  def fromHexWkbLegacy(hex: String): Val = fromWkbLegacy(unhex(hex))

  // ---- normalization (`tsequence_make(..., normalize)`, tseq.rs:60) ------

  private def valuesEq(a: GInst, b: GInst, eps: Double): Boolean =
    math.abs(a.x - b.x) <= eps && math.abs(a.y - b.y) <= eps &&
      ((a.z, b.z) match {
        case (Some(az), Some(bz)) => math.abs(az - bz) <= eps
        case (None, None) => true
        case _ => false
      })

  private def collinear(a: GInst, b: GInst, c: GInst, eps: Double)
      : Boolean = {
    val span = usOf(c.t) - usOf(a.t)
    if (span == 0) return valuesEq(a, b, eps)
    val f = (usOf(b.t) - usOf(a.t)).toDouble / span
    def ok(pa: Double, pb: Double, pc: Double) =
      math.abs(pa + f * (pc - pa) - pb) <= eps
    ok(a.x, b.x, c.x) && ok(a.y, b.y, c.y) &&
      ((a.z, b.z, c.z) match {
        case (Some(az), Some(bz), Some(cz)) =>
          math.abs(az + f * (cz - az) - bz) <= eps
        case (None, None, None) => true
        case _ => false
      })
  }

  private def normalizeSeq(q: GSeq, eps: Double): GSeq = {
    val n = q.instants.size
    if (n < 3 || q.interp == Temporal.InterpDiscrete) q
    else {
      val out = scala.collection.mutable.ArrayBuffer(q.instants.head)
      var i = 1
      while (i < n - 1) {
        val a = out.last; val b = q.instants(i); val c = q.instants(i + 1)
        val redundant = q.interp match {
          // linear: B sits exactly on the A→C segment at its timestamp
          case Temporal.InterpLinear => collinear(a, b, c, eps)
          // step: B repeats the held value — adds no information
          case Temporal.InterpStep => valuesEq(a, b, eps)
          case _ => false
        }
        if (!redundant) out += b
        i += 1
      }
      out += q.instants.last
      GSeq(out.toSeq, q.interp, q.`lower_inc`, q.`upper_inc`)
    }
  }

  /** The `normalize=true` path of `tsequence_make`
    * (`meos/src/tseq.rs:60` — the reference always passes `false`, but the
    * parameter is part of the MEOS surface): merge redundant instants —
    * collinear middles under linear interpolation, repeated values under
    * step. First/last instants always survive (they carry the bounds);
    * discrete sequences are untouched. `eps` mirrors MEOS's epsilon-based
    * collinearity test. */
  def normalize(v: Val, eps: Double = 1e-12): Val =
    v.copy(sequences = v.sequences.map(normalizeSeq(_, eps)))

  // ---- semantics: value at timestamp (interpolation-aware) ----------------

  /** Value of the temporal point at timestamp `at`, honoring interpolation
    * mode and bounds inclusivity (the semantics MEOS's `tsequence_make`
    * parameters declare, `meos/src/tseq.rs:57-60`): Linear interpolates
    * between bracketing instants, Step holds the previous value, Discrete
    * matches exact instants only. None outside the (inclusive-respecting)
    * domain; a sequence without instants covers no timestamp. */
  def valueAt(v: Val, at: Instant): Option[(Double, Double)] = {
    val atUs = usOf(at)
    v.sequences.iterator.filter(_.instants.nonEmpty).foreach { q =>
      val n = q.instants.size
      val first = usOf(q.instants.head.t)
      val last = usOf(q.instants.last.t)
      q.interp match {
        case Temporal.InterpDiscrete | Temporal.InterpNone =>
          q.instants.find(i => usOf(i.t) == atUs)
            .foreach(i => return Some((i.x, i.y)))
        case _ =>
          val inLower = if (q.`lower_inc`) atUs >= first else atUs > first
          val inUpper = if (q.`upper_inc`) atUs <= last else atUs < last
          if (inLower && inUpper) {
            var k = 0
            while (k < n - 1 && usOf(q.instants(k + 1).t) <= atUs) k += 1
            val a = q.instants(k)
            if (usOf(a.t) == atUs) return Some((a.x, a.y))
            else if (k < n - 1) {
              val b = q.instants(k + 1)
              if (q.interp == Temporal.InterpStep) return Some((a.x, a.y))
              else {
                val f = (atUs - usOf(a.t)).toDouble / (usOf(b.t) - usOf(a.t))
                return Some((a.x + f * (b.x - a.x), a.y + f * (b.y - a.y)))
              }
            }
          }
      }
    }
    None
  }
}
