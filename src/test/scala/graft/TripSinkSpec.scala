package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.TripSink

/** JSON-lines trip sink (S3) + merge-append semantics (S4). */
class TripSinkSpec extends SparkTestBase {

  test("json-lines envelope matches the reference's record shape " +
    "(04_to_file.rs:142)") {
    import spark.implicits._
    val dir = tempDir("tripsink").toString + "/out"
    val df = Seq((367000001L, 70, "01ABCD"), (367000002L, 0, "01EF00"))
      .toDF("mmsi", "vtype", "hex")
    TripSink.writeJsonLines(df, col("mmsi"), col("vtype"), col("hex"), dir)
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.length == 2)
    assert(lines(0) == """{"id":367000001,"vt":70,"json":"01ABCD"}""")
    // readable back as structured json
    val parsed = spark.read.json(spark.createDataset(lines.toSeq)(
      org.apache.spark.sql.Encoders.STRING))
    assert(parsed.select("id", "vt", "json").count() == 2)
  }

  test("DSv2 envelope write is byte-identical to the legacy text sink, " +
    "mode(overwrite) truncates, and a pruned v2 read round-trips it") {
    import spark.implicits._
    val base = tempDir("tripsink-v2").toString
    val legacy = base + "/legacy"
    val v2 = base + "/v2"
    val df = Seq((367000001L, 70, "01ABCD"), (367000002L, 0, "01EF00"),
      (5L, 1, "DEAD\"BEEF\\u")) // payload with chars that need escaping
      .toDF("id", "vt", "json")
    TripSink.writeJsonLines(df, col("id"), col("vt"), col("json"), legacy)
    // first write gets truncated away by the second — overwrite works
    df.limit(1).write.format("trip-envelope").mode("overwrite").save(v2)
    df.write.format("trip-envelope").mode("overwrite").save(v2)
    val a = spark.read.text(legacy).as[String].collect().sorted
    val b = spark.read.text(v2).as[String].collect().sorted
    assert(a.sameElements(b),
      s"v2 bytes diverge from the legacy sink:\n${a.mkString("\n")}\n--\n" +
        b.mkString("\n"))
    // pruned v2 read: ReadSchema drops the payload
    val pruned = spark.read.format("trip-envelope").load(v2).select("id")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<id:bigint>"))
    assert(pruned.as[Long].collect().sorted.sameElements(
      Array(5L, 367000001L, 367000002L)))
    // an external .schema(...) that mismatches the wire schema fails at
    // planning time, not per-row in an executor (ADVICE r12)
    intercept[IllegalArgumentException] {
      spark.read.format("trip-envelope")
        .schema("id BIGINT, wrong STRING").load(v2).count()
    }
  }

  test("envelope reader ignores dot/underscore files — an aborted v2 " +
    "write attempt's .inprogress temp file is never visible to a scan") {
    import spark.implicits._
    val dir = tempDir("tripsink-abort").toString
    Seq((1L, 1, "AA")).toDF("id", "vt", "json")
      .write.format("trip-envelope").mode("overwrite").save(dir)
    // plant what a dead task attempt leaves behind
    Files.write(java.nio.file.Paths.get(dir, ".part-99999-7.txt.inprogress"),
      """{"id":999,"vt":9,"json":"FF"}""".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "_SUCCESS"),
      Array.emptyByteArray)
    val back = spark.read.format("trip-envelope").load(dir)
      .select("id").as[Long].collect()
    assert(back.toSeq == Seq(1L), back.toSeq.toString)
  }

  test("jdbc upsert statement matches the reference's merge-on-conflict " +
    "shape (ais_to_db.rs:155-162)") {
    val sql = TripSink.upsertStatement("ais.trips", "MMSI", "trip")
    assert(sql == "INSERT INTO ais.trips (MMSI, trip) " +
      "VALUES ($1, tgeompointFromBinary($2)) " +
      "ON CONFLICT (MMSI) DO UPDATE SET " +
      "trip = update(ais.trips.trip, EXCLUDED.trip, true)")
  }

  test("approx_count_distinct within 5% of exact on events (HLL path)") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    val r = Tables.events(spark, sfDir)
      .agg(countDistinct(col("event_id")).as("exact"),
        approx_count_distinct(col("event_id")).as("approx"))
      .collect()(0)
    val (e, a) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
  }

  test("mergeTripArrays: interleaves, dedupes (stored wins), handles " +
    "one-sided nulls") {
    import spark.implicits._
    val df = Seq((
      Seq(100L, 300L), Seq(1.0, 3.0),      // stored
      Seq(200L, 300L, 400L), Seq(2.0, 9.9, 4.0) // incoming; 300 conflicts
    )).toDF("st", "sv", "nt", "nv")
      .select(TripSink.mergeTripArrays(col("st"), col("sv"), col("nt"),
        col("nv")).as("m"))
      .select(col("m.t"), col("m.v"), col("m.n"))
    val r = df.collect()(0)
    assert(r.getAs[scala.collection.Seq[Long]]("t") == Seq(100L, 200L, 300L, 400L))
    // at t=300 the stored value 3.0 wins over incoming 9.9
    assert(r.getAs[scala.collection.Seq[Double]]("v") == Seq(1.0, 2.0, 3.0, 4.0))
    assert(r.getAs[Long]("n") == 4L)

    // null stored side (fresh key in the upsert)
    val oneSided = Seq((Option.empty[Seq[Long]], Option.empty[Seq[Double]],
      Some(Seq(5L)), Some(Seq(0.5))))
      .toDF("st", "sv", "nt", "nv")
      .select(TripSink.mergeTripArrays(col("st"), col("sv"), col("nt"),
        col("nv")).as("m"))
      .collect()(0).getAs[org.apache.spark.sql.Row]("m")
    assert(oneSided.getAs[scala.collection.Seq[Long]]("t") == Seq(5L))
  }
}
