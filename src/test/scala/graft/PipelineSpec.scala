package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.meos.{MeosFunctions, TGeom}
import graft.sources.AisCsv

/** End-to-end lifecycle: AIS CSV (the reference's real input format,
  * FIXTURES.md A1) → canonical posits → trajectory assembly → JSON-lines
  * sink with hex-WKB payload → decode and verify (§3.1/§3.2 round trip). */
class PipelineSpec extends SparkTestBase {

  private val csv =
    """MMSI,BaseDateTime,LAT,LON,VesselType
      |367000001,2024-01-01T00:00:00,29.95,-90.06,70
      |367000001,2024-01-01T00:01:00,29.96,-90.05,70
      |367000001,2024-01-01T00:01:00,29.96,-90.05,70
      |367000001,2024-01-01T00:00:30,29.99,-90.99,70
      |367000002,2024-01-01T00:00:30,27.10,-82.45,
      |""".stripMargin

  private def writeCsv(): String = {
    val dir = tempDir("ais")
    Files.writeString(dir.resolve("a.csv"), csv)
    dir.toString
  }

  test("AIS csv source: header schema, ts parse with +00, null-default vt") {
    val df = AisCsv.read(spark, writeCsv())
    assert(df.count() == 5)
    val r = df.where(col("mmsi") === 367000002L).collect()(0)
    assert(r.getAs[Int]("vt") == 0) // VesselType null → 0
    assert(r.getAs[java.sql.Timestamp]("t").toInstant ==
      TGeom.parseTs("2024-01-01 00:00:30"))
  }

  test("aisToFile: full pipeline to JSON-lines, hexwkb payload decodes " +
    "back to the assembled trip") {
    import spark.implicits._
    val out = tempDir("trips").toString + "/out"
    val trips = Pipelines.aisToFile(AisCsv.read(spark, writeCsv()), out)
    // dup-ts posit dropped: vessel 1 keeps 3 instants (00:00, 00:00:30,
    // 00:01), vessel 2 keeps 1
    val byId = trips.select(col("mmsi"), col("s.n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == Map(367000001L -> 3L, 367000002L -> 1L))

    val lines = spark.read.json(out)
    assert(lines.count() == 2)
    val hex = lines.where(col("id") === 367000001L)
      .select("json").as[String].collect()(0)
    val decoded = TGeom.fromHexWkb(hex)
    assert(decoded.subtype == TGeom.SubSequence)
    assert(decoded.srid == 4326)
    assert(decoded.sequences.head.instants.map(i => (i.x, i.y)) ==
      Seq((-90.06, 29.95), (-90.99, 29.99), (-90.05, 29.96)))
    // WKT print of the decoded trip is the ingest-form literal
    val wkt = TGeom.print(decoded)
    assert(wkt.startsWith("SRID=4326;[POINT(-90.06 29.95)@2024-01-01 00:00:00+00"))
  }

  private def csvDir(rows: String*): String = {
    val dir = tempDir("ais")
    Files.writeString(dir.resolve("a.csv"),
      ("MMSI,BaseDateTime,LAT,LON,VesselType" +: rows).mkString("\n") + "\n")
    dir.toString
  }

  test("vt is the type on the posit with the greatest (t, seq) when a " +
    "vessel's type changes during the day") {
    // the last timestamp appears twice with different types and positions
    val posits = AisCsv.read(spark, csvDir(
      "367000001,2024-01-01T00:00:00,29.95,-90.06,10",
      "367000001,2024-01-01T00:01:00,29.96,-90.05,30",
      "367000001,2024-01-01T00:02:00,29.97,-90.04,60",
      "367000001,2024-01-01T00:02:00,29.98,-90.03,80"))
    val seqs = posits.select(col("t"), col("lon"), col("vt"),
        xxhash64(col("t"), col("lon"), col("lat"), col("vt")).as("seq"))
      .where(col("vt") >= 60).collect()
      .map(r => (r.getAs[Long]("seq"), r.getAs[Int]("vt"),
        r.getAs[Double]("lon")))
      .sortBy(_._1)
    assert(seqs.length == 2)
    val trips = Pipelines.assembleTrips(posits).collect()
    assert(trips.length == 1)
    // the type comes from the larger seq, the kept posit from the smaller
    assert(trips(0).getAs[Int]("vt") == seqs(1)._2)
    val s = trips(0).getAs[Row]("s")
    assert(s.getAs[Long]("n") == 3L)
    assert(s.getAs[scala.collection.Seq[Double]]("x").last == seqs(0)._3)
  }

  test("a null VesselType on the last posit gives vt 0") {
    val trips = Pipelines.assembleTrips(AisCsv.read(spark, csvDir(
      "367000001,2024-01-01T00:00:00,29.95,-90.06,70",
      "367000001,2024-01-01T00:01:00,29.96,-90.05,"))).collect()
    assert(trips.map(_.getAs[Int]("vt")).toSeq == Seq(0))
  }

  test("null t, LAT, LON and MMSI inputs: epoch 0, coordinate 0.0, the " +
    "row's vessel dropped") {
    def trip(rows: String*): Seq[(Long, Int, Seq[Long], Seq[Double],
                                  Seq[Double])] =
      Pipelines.assembleTrips(AisCsv.read(spark, csvDir(rows: _*)))
        .orderBy("mmsi").collect().toSeq.map { r =>
          val s = r.getAs[Row]("s")
          (r.getAs[Long]("mmsi"), r.getAs[Int]("vt"),
            s.getAs[scala.collection.Seq[Long]]("t").toSeq,
            s.getAs[scala.collection.Seq[Double]]("x").toSeq,
            s.getAs[scala.collection.Seq[Double]]("y").toSeq)
        }
    val t0 = 1704067200000000L
    val first = "1,2024-01-01T00:00:00,1.0,2.0,70"
    assert(trip(first, "1,2024-01-01T00:01:00,,2.0,70") ==
      Seq((1L, 70, Seq(t0, t0 + 60000000L), Seq(2.0, 2.0), Seq(1.0, 0.0))))
    assert(trip(first, "1,2024-01-01T00:01:00,1.0,,70") ==
      Seq((1L, 70, Seq(t0, t0 + 60000000L), Seq(2.0, 0.0), Seq(1.0, 1.0))))
    // a null t sorts as epoch 0 in the trip and loses the vessel type
    assert(trip(first, "1,,3.0,4.0,30") ==
      Seq((1L, 70, Seq(0L, t0), Seq(4.0, 2.0), Seq(3.0, 1.0))))
    assert(trip(first, ",2024-01-01T00:01:00,1.0,2.0,30") ==
      Seq((1L, 70, Seq(t0), Seq(2.0), Seq(1.0))))
  }

  test("aisToFile with MF-JSON payload") {
    import spark.implicits._
    val out = tempDir("tripsmf").toString + "/out"
    Pipelines.aisToFile(AisCsv.read(spark, writeCsv()), out, asMfJson = true)
    val j = spark.read.json(out).where(col("id") === 367000001L)
      .select("json").as[String].collect()(0)
    assert(j.contains("\"type\":\"MovingGeomPoint\""))
    assert(j.contains("\"interpolation\":\"Linear\""))
  }

  test("trip file written by the sink reads back as temporal values " +
    "(sink→source loop)") {
    val out = tempDir("loop").toString + "/out"
    val written = Pipelines.aisToFile(AisCsv.read(spark, writeCsv()), out)
    val back = graft.sources.TripSource.readJsonLines(spark, out)
      .select(col("id"),
        graft.meos.MeosFunctions.tgeompointNumInstants(col("trip")).as("n"),
        graft.meos.MeosFunctions.tgeompointOut(col("trip")).as("wkt"))
    val byId = back.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val orig = written.select(col("mmsi"), col("s.n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.view.mapValues(_.toLong).toMap == orig)
  }

  test("try-parse tolerates dirty WKT (nulls, not job failure)") {
    import spark.implicits._
    val r = Seq("POINT(1 1)@2000-01-01", "GARBAGE", null)
      .toDF("wkt")
      .select(graft.meos.MeosFunctions.tgeompointTryIn(col("wkt")).as("v"))
      .collect()
    assert(!r(0).isNullAt(0) && r(1).isNullAt(0) && r(2).isNullAt(0))
  }

  test("entry flagship still runs after pipeline refactors") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("tpointVal struct is accepted by every codec UDF") {
    val ais = AisCsv.read(spark, writeCsv())
    val trips = Pipelines.assembleTrips(ais)
    val r = trips.select(
      MeosFunctions.tgeompointOut(col("trip")).as("wkt"),
      MeosFunctions.tgeompointAsMfJson(col("trip")).as("mf"),
      MeosFunctions.tgeompointAsHexWkb(col("trip")).as("hex")).collect()
    assert(r.length == 2)
    r.foreach { row =>
      assert(row.getAs[String]("wkt").contains("@"))
      assert(row.getAs[String]("mf").contains("datetimes"))
      assert(row.getAs[String]("hex").nonEmpty)
    }
  }
}
