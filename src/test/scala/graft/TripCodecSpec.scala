package graft

import java.time.{Instant, OffsetDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meos.{NativeExpressions, TGeom, Temporal}
import graft.meos.TGeom.Val

/** The trip codec's native leg against TGeom's driver-side codec, on
  * generated values ([[TripVals.genVal]], fixed seeds): HexWKB and WKB
  * encode and decode, value-at and WKT print, each run with interpreted
  * (`NO_CODEGEN`) and generated (`CODEGEN_ONLY`) expression evaluation;
  * malformed HexWKB; and the formatter-free timestamp printer against the
  * `DateTimeFormatter` one it replaced. */
class TripCodecSpec extends SparkTestBase {

  private val Samples = 200

  private def sample[A](gen: Gen[A], n: Int = Samples): Seq[A] =
    (1 to n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** An RDD-backed frame: a local relation would be folded (and its
    * expressions evaluated) by the optimizer, outside the mode under test. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val valEncoder = Encoders.product[Val]

  test("HexWKB/WKB decode: native == TGeom.fromHexWkb == the generated " +
    "value (property, interpreted and codegen)") {
    val vals = sample(TripVals.genVal)
    val hexes = vals.map(TGeom.toHexWkb)
    hexes.zip(vals).foreach { case (h, v) => assert(TGeom.fromHexWkb(h) == v) }
    val df = frame(hexes.zipWithIndex.map { case (h, i) => Row(i, h) },
      StructType(Seq(StructField("i", IntegerType), StructField("hex",
        StringType))))
    Modes.foreach { mode =>
      inMode(mode) {
        def decoded(c: org.apache.spark.sql.Column): Seq[Val] =
          df.orderBy("i").select(c.as("v")).select(col("v.*"))
            .as(valEncoder).collect().toSeq
        val viaHex = decoded(NativeExpressions.tgeompointFromHexWkb(col("hex")))
        val viaBin =
          decoded(NativeExpressions.tgeompointFromWkb(unhex(col("hex"))))
        vals.indices.foreach { i =>
          assert(viaHex(i) == vals(i), s"$mode hex #$i ${hexes(i)}")
          assert(viaBin(i) == vals(i), s"$mode wkb #$i ${hexes(i)}")
        }
      }
    }
  }

  test("HexWKB/WKB decode through the per-task memo: adjacent " +
    "equal-length payloads and a repeated one keep their own values " +
    "(interpreted and codegen)") {
    val vs = Seq("[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
      "[POINT(3 1)@2000-01-01, POINT(2 5)@2000-01-02]",
      "POINT(7 8)@2001-01-01").map(TGeom.parse)
    val hs = vs.map(TGeom.toHexWkb)
    assert(hs(0).length == hs(1).length && hs(0) != hs(1))
    val order = Seq(0, 1, 1, 0, 2, 2, 0)
    // one partition, so the rows meet the same task thread in this order
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      order.zipWithIndex.map { case (k, i) => Row(i, hs(k)) }, 1),
      StructType(Seq(StructField("i", IntegerType),
        StructField("hex", StringType))))
    Modes.foreach { mode =>
      inMode(mode) {
        // each decode runs twice per row: in the filter and the projection
        def decoded(c: org.apache.spark.sql.Column): Seq[Val] =
          df.where(c.getField("srid") >= 0).orderBy("i").select(c.as("v"))
            .select(col("v.*")).as(valEncoder).collect().toSeq
        val viaHex = decoded(NativeExpressions.tgeompointFromHexWkb(col("hex")))
        val viaBin =
          decoded(NativeExpressions.tgeompointFromWkb(unhex(col("hex"))))
        assert(viaHex == order.map(vs), mode)
        assert(viaBin == order.map(vs), mode)
      }
    }
    // equal input bytes give the same row inside a task, a fresh one on
    // the driver (no TaskContext)
    val h0 = hs(0)
    val inTask = spark.sparkContext.parallelize(Seq(h0), 1).map { h =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(h)
      graft.meos.WkbBridge.fromHexWkb(u) eq
        graft.meos.WkbBridge.fromHexWkb(u.clone())
    }.collect()
    assert(inTask.sameElements(Seq(true)))
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(h0)
    assert(graft.meos.WkbBridge.fromHexWkb(u) ne
      graft.meos.WkbBridge.fromHexWkb(u))
  }

  test("HexWKB/WKB encode: native == TGeom.toHexWkb/toWkb on generated " +
    "values (property, interpreted and codegen)") {
    val vals = sample(TripVals.genVal)
    val df = spark.createDataset(spark.sparkContext.parallelize(
      vals.zipWithIndex, 2))(Encoders.tuple(valEncoder, Encoders.scalaInt))
      .toDF("v", "i")
    Modes.foreach { mode =>
      inMode(mode) {
        val got = df.orderBy("i").select(
          NativeExpressions.tgeompointAsHexWkb(col("v")),
          NativeExpressions.tgeompointAsWkb(col("v"))).collect()
        vals.indices.foreach { i =>
          val hex = TGeom.toHexWkb(vals(i))
          assert(got(i).getString(0) == hex, s"$mode hex #$i ${vals(i)}")
          assert(got(i).getAs[Array[Byte]](1).sameElements(
            TGeom.toWkb(vals(i))), s"$mode wkb #$i $hex")
        }
      }
    }
  }

  /** `Assembly.tpointVal`'s former composed form: the reference for the
    * native expression. */
  private def composedTpointVal(pseq: org.apache.spark.sql.Column,
                                srid: Int) = {
    val instants = zip_with(
      zip_with(pseq.getField("t"), pseq.getField("x"),
        (t, x) => struct(t.as("t"), x.as("x"))),
      pseq.getField("y"),
      (tx, y) => struct(
        timestamp_micros(tx.getField("t")).as("t"),
        tx.getField("x").as("x"), y.as("y")))
    struct(
      lit(TGeom.SubSequence).as("subtype"),
      lit(srid).as("srid"),
      lit(Temporal.InterpLinear).as("interp"),
      array(struct(
        instants.as("instants"),
        lit(Temporal.InterpLinear).as("interp"),
        lit(true).as("lower_inc"),
        lit(true).as("upper_inc"))).as("sequences"))
  }

  test("tpointVal: native == the composed zip_with form, type and " +
    "nullability included, on unequal lengths and nulls (interpreted and " +
    "codegen)") {
    def arr[A](g: Gen[A]): Gen[Seq[Any]] = Gen.frequency(
      1 -> Gen.const(null),
      8 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n,
        Gen.frequency(5 -> g.map(a => a: Any), 1 -> Gen.const(null)))))
    val gen = for {
      nul <- Gen.frequency(1 -> true, 9 -> false)
      t <- arr(TripVals.genUs)
      x <- arr(Gen.choose(-180.0, 180.0))
      y <- arr(Gen.choose(-90.0, 90.0))
    } yield if (nul) null else Row(t, x, y, 3L)
    val pseq = StructType(Seq(StructField("t", ArrayType(LongType)),
      StructField("x", ArrayType(DoubleType)),
      StructField("y", ArrayType(DoubleType)),
      StructField("n", LongType)))
    val df = frame(sample(gen).zipWithIndex.map { case (r, i) => Row(i, r) },
      StructType(Seq(StructField("i", IntegerType), StructField("s", pseq))))
    Modes.foreach { mode =>
      inMode(mode) {
        val want = df.orderBy("i").select(composedTpointVal(col("s"), 4326))
        val got = df.orderBy("i").select(
          graft.meos.Assembly.tpointVal(col("s"), 4326))
        assert(got.schema.head.copy(name = "") == want.schema.head.copy(
          name = ""))
        assert(got.collect().toSeq == want.collect().toSeq, mode)
      }
    }
  }

  test("value-at: native == TGeom.valueAt on generated values and probe " +
    "timestamps (property, interpreted and codegen)") {
    val vals = sample(TripVals.genVal, 100)
    val cases = vals.flatMap(v => TripVals.probes(v).map(v -> _))
    val df = frame(cases.zipWithIndex.map { case ((v, at), i) =>
      Row(i, TGeom.toHexWkb(v), at) },
      StructType(Seq(StructField("i", IntegerType),
        StructField("hex", StringType), StructField("at", LongType))))
    val want = cases.map { case (v, at) =>
      TGeom.valueAt(v, Instant.ofEpochSecond(Math.floorDiv(at, 1000000L),
        Math.floorMod(at, 1000000L) * 1000L))
    }
    assert(want.count(_.isDefined) > cases.size / 4, "probes mostly miss")
    Modes.foreach { mode =>
      inMode(mode) {
        val got = df.orderBy("i").select(NativeExpressions.tgeompointValueAt(
          NativeExpressions.tgeompointFromHexWkb(col("hex")),
          timestamp_micros(col("at"))).as("p")).collect().map(r =>
          Option(r.getStruct(0)).map(p => (p.getDouble(0), p.getDouble(1))))
        cases.indices.foreach(i =>
          assert(got(i) == want(i), s"$mode ${cases(i)}"))
      }
    }
  }

  test("WKT print: native == TGeom.print in the session timezone, " +
    "UTC and America/New_York across DST (property, interpreted and " +
    "codegen)") {
    val vals = sample(TripVals.genVal, 100)
    val df = frame(vals.zipWithIndex.map { case (v, i) =>
      Row(i, TGeom.toHexWkb(v)) },
      StructType(Seq(StructField("i", IntegerType),
        StructField("hex", StringType))))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try Seq("UTC", "America/New_York").foreach { tz =>
      spark.conf.set("spark.sql.session.timeZone", tz)
      Modes.foreach { mode =>
        inMode(mode) {
          val got = df.orderBy("i").select(NativeExpressions.tgeompointOut(
            NativeExpressions.tgeompointFromHexWkb(col("hex")), 15))
            .collect().map(_.getString(0))
          vals.indices.foreach(i =>
            assert(got(i) == TGeom.print(vals(i), 15, ZoneId.of(tz)),
              s"$mode $tz"))
        }
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  // ---- the DateTimeFormatter-based printer the fast path replaced --------

  private val RefFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val RefIsoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  private def refOffset(o: ZoneOffset): String = {
    val tot = o.getTotalSeconds
    val sign = if (tot < 0) "-" else "+"
    val a = math.abs(tot)
    val mm = (a % 3600) / 60
    f"$sign${a / 3600}%02d" + (if (mm != 0) f":$mm%02d" else "")
  }

  private def refFrac(t: Instant): String = {
    val us = t.getNano / 1000
    if (us == 0) "" else "." + f"$us%06d".reverse.dropWhile(_ == '0').reverse
  }

  private def refTs(t: Instant, zone: ZoneId, iso: Boolean): String = {
    val odt = OffsetDateTime.ofInstant(t, zone)
    (if (iso) RefIsoFmt else RefFmt).format(odt) + refFrac(t) +
      refOffset(odt.getOffset)
  }

  private def refPrint(v: Val, zone: ZoneId): String = {
    def inst(i: TGeom.GInst): String = i.z match {
      case Some(z) =>
        s"POINT Z (${TGeom.fmtFloat(i.x)} ${TGeom.fmtFloat(i.y)} " +
          s"${TGeom.fmtFloat(z)})@" + refTs(i.t, zone, iso = false)
      case None =>
        s"POINT(${TGeom.fmtFloat(i.x)} ${TGeom.fmtFloat(i.y)})@" +
          refTs(i.t, zone, iso = false)
    }
    def seq(q: TGeom.GSeq): String = {
      val body = q.instants.map(inst).mkString(", ")
      if (q.interp == Temporal.InterpDiscrete) s"{$body}"
      else (if (q.`lower_inc`) "[" else "(") + body +
        (if (q.`upper_inc`) "]" else ")")
    }
    (if (v.srid != 0) s"SRID=${v.srid};" else "") +
      (if (v.interp == Temporal.InterpStep) "Interp=Step;" else "") +
      (v.subtype match {
        case TGeom.SubInstant => inst(v.sequences.head.instants.head)
        case TGeom.SubSequence => seq(v.sequences.head)
        case _ => v.sequences.map(seq).mkString("{", ", ", "}")
      })
  }

  test("timestamp and WKT text are byte-identical to the " +
    "DateTimeFormatter printer (fixed, DST and LMT-era zones; years " +
    "outside 1-9999)") {
    val zones = Seq("UTC", "America/New_York", "+05:30", "-09:30",
      "Asia/Kathmandu", "Europe/Amsterdam", "Australia/Lord_Howe")
      .map(ZoneId.of)
    val edgeYears = Seq("0001-01-01T00:00:00.000001Z",
      "9999-12-31T23:59:59.999999Z", "-0001-06-01T12:00:00Z",
      "+10000-01-01T00:00:00Z", "1883-11-18T16:59:59.5Z",
      "1937-06-30T23:40:28Z").map(Instant.parse)
    val ts = sample(TripVals.genUs, 500).map(us =>
      Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)) ++ edgeYears
    for (z <- zones; t <- ts) {
      assert(TGeom.fmtTs(t, z) == refTs(t, z, iso = false), s"$t $z")
      assert(TGeom.fmtTsIso(t, z) == refTs(t, z, iso = true), s"$t $z")
    }
    for (z <- zones; v <- sample(TripVals.genVal, 100))
      assert(TGeom.print(v, 15, z) == refPrint(v, z), s"$z")
  }

  /** `TGeom.fmtFloat`'s `BigDecimal` path, the reference for its fast
    * path. */
  private def refFloat(v: Double, maxdd: Int): String = {
    if (v.isNaN) return "NaN"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    val s = BigDecimal(v).setScale(maxdd, BigDecimal.RoundingMode.HALF_EVEN)
      .underlying.stripTrailingZeros.toPlainString
    if (s == "-0") "0" else s
  }

  test("fmtFloat is byte-identical to the BigDecimal path at every " +
    "maxdd 0-17 (generated coordinates and edge values)") {
    val coords = sample(TripVals.genVal).flatMap(_.sequences)
      .flatMap(_.instants).flatMap(i => Seq(i.x, i.y) ++ i.z)
    val rnd = new scala.util.Random(17)
    val scaled = (1 to 400).map(_ =>
      (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(30) - 8))
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL / 3,
      java.lang.Double.MIN_NORMAL, 1e-7, -1e-7, 1e-3, 9.999999e-4, 1e7,
      9999999.999999998, 1e21, -1e21, 0.1 + 0.2, 1.0 / 3,
      0.12345678901234568, 1.2345678901234567, 0.1234567890123456,
      -0.9999999999999999, 2.5, 0.5, 1.5, 0.05, 123456.0, 1e16, 1e15 + 0.5,
      Double.MaxValue, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    for (v <- coords ++ scaled ++ edges; maxdd <- 0 to 17)
      assert(TGeom.fmtFloat(v, maxdd) == refFloat(v, maxdd), s"$v $maxdd")
  }

  // ---- malformed HexWKB ----------------------------------------------------

  private def causes(e: Throwable): Seq[Throwable] =
    if (e == null) Nil else e +: causes(e.getCause)

  /** Decode `hex` natively (codegen and interpreted) and return the
    * ParseError it raised. */
  private def nativeError(hex: String): Seq[TGeom.ParseError] = {
    val df = frame(Seq(Row(hex)), StructType(Seq(StructField("hex",
      StringType))))
    Modes.map { mode =>
      inMode(mode) {
        val e = intercept[Exception](df.select(
          NativeExpressions.tgeompointFromHexWkb(col("hex"))).collect())
        causes(e).collectFirst { case p: TGeom.ParseError => p }
          .getOrElse(fail(s"$mode: no ParseError in $e"))
      }
    }
  }

  test("malformed HexWKB is a ParseError naming the offset, in " +
    "TGeom.fromHexWkb and in the native expression") {
    val good = TGeom.toHexWkb(TGeom.parse(
      "[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]"))
    def put(at: Int, s: String) =
      good.substring(0, at) + s + good.substring(at + s.length)
    val cases = Seq(
      good + "0" -> s"offset ${good.length}", // odd length
      good.dropRight(1) -> s"offset ${good.length - 2}",
      put(10, "-1") -> "'-' at offset 10", // Integer.parseInt accepted both
      put(20, "+F") -> "'+' at offset 20",
      put(30, "0G") -> "'G' at offset 31",
      put(40, " 0") -> "0x20 at offset 40",
      // a non-hex byte in the unread tail of a complete value
      good + "0x" -> s"'x' at offset ${good.length + 1}")
    cases.foreach { case (bad, msg) =>
      val e = intercept[TGeom.ParseError](TGeom.fromHexWkb(bad))
      assert(e.getMessage.contains(msg), s"${e.getMessage} / $msg")
      nativeError(bad).foreach(n =>
        assert(n.getMessage == e.getMessage, s"$bad"))
    }
    // a value cut short, and a count larger than the bytes left
    val truncated = good.substring(0, good.length - 16)
    val hugeCount = good.substring(0, 8) + "FFFFFF7F" + good.substring(16)
    Seq(truncated, hugeCount, "").foreach { bad =>
      val e = intercept[TGeom.ParseError](TGeom.fromHexWkb(bad))
      assert(e.getMessage.contains("truncated"), e.getMessage)
      nativeError(bad).foreach(n =>
        assert(n.getMessage.contains("truncated"), n.getMessage))
    }
    // a non-ASCII digit: rejected by both (offsets count chars vs bytes)
    val accented = put(12, "é0")
    intercept[TGeom.ParseError](TGeom.fromHexWkb(accented))
    assert(nativeError(accented).size == Modes.size)
    // lowercase digits are hex too
    assert(TGeom.fromHexWkb(good.toLowerCase) == TGeom.fromHexWkb(good))
  }
}
