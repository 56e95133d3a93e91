package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingAssembly
import graft.streaming.StreamingAssembly.{EventIn, TripUpdate}

/** Drives the stateful streaming assembly with a MemoryStream across
  * micro-batches: in-order growth, cross-batch out-of-order drop (the
  * reference's monotonic rule, `04_to_file.rs:91-96`), and state
  * truncation (P7). */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("incremental assembly across micro-batches with monotonic drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val q = StreamingAssembly.assemble(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("trips")
      .start()
    try {
      // batch 1: two users, in-order
      input.addData(
        EventIn(1, ts("2024-01-01 00:00:00"), 1, 1.0),
        EventIn(1, ts("2024-01-01 00:01:00"), 2, 2.0),
        EventIn(2, ts("2024-01-01 00:00:30"), 3, 9.0))
      q.processAllAvailable()
      val b1 = spark.table("trips").as[TripUpdate].collect()
        .map(u => u.user_id -> u).toMap
      assert(b1(1L).n_posits == 2 && b1(2L).n_posits == 1)

      // batch 2: one new posit for user 1, plus an out-of-order one that
      // must be dropped (its ts <= last accepted)
      input.addData(
        EventIn(1, ts("2024-01-01 00:02:00"), 4, 3.0),
        EventIn(1, ts("2024-01-01 00:00:30"), 5, 99.0))
      q.processAllAvailable()
      val b2 = spark.table("trips").as[TripUpdate].collect()
        .filter(_.user_id == 1L).maxBy(_.n_posits)
      assert(b2.n_posits == 3) // 2 + 1 accepted, the stale one dropped
      assert(b2.last_value == 3.0)
      assert(b2.start_ts == ts("2024-01-01 00:00:00"))
      assert(b2.end_ts == ts("2024-01-01 00:02:00"))
    } finally q.stop()
  }

  test("tgeompoint streaming assembly: incremental lon/lat trips") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAssembly.PositIn]
    val q = StreamingAssembly.assemblePoints(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("pt_trips").start()
    try {
      input.addData(
        StreamingAssembly.PositIn(367000001L, ts("2024-01-01 00:00:00"), 1,
          -90.06, 29.95),
        StreamingAssembly.PositIn(367000001L, ts("2024-01-01 00:01:00"), 2,
          -90.05, 29.96))
      q.processAllAvailable()
      input.addData(
        StreamingAssembly.PositIn(367000001L, ts("2024-01-01 00:02:00"), 3,
          -90.04, 29.97),
        // out-of-order: dropped by the monotonic rule
        StreamingAssembly.PositIn(367000001L, ts("2024-01-01 00:00:30"), 4,
          -99.0, 0.0))
      q.processAllAvailable()
      val u = spark.table("pt_trips")
        .as[StreamingAssembly.PointTripUpdate].collect()
        .filter(_.mmsi == 367000001L).maxBy(_.n_posits)
      assert(u.n_posits == 3)
      assert(u.last_lon == -90.04 && u.last_lat == 29.97)
    } finally q.stop()
  }

  test("maxTripSize bounds state growth (P7 truncation)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val q = StreamingAssembly.assemble(input.toDS(), maxTripSize = 2)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("trips_capped")
      .start()
    try {
      input.addData((1 to 10).map(i =>
        EventIn(7, ts(f"2024-01-01 00:${i}%02d:00"), i.toLong, i.toDouble)): _*)
      q.processAllAvailable()
      val u = spark.table("trips_capped").as[TripUpdate].collect()
        .filter(_.user_id == 7L).head
      assert(u.n_posits == 2)
      assert(u.end_ts == ts("2024-01-01 00:02:00"))
    } finally q.stop()
  }

  test("foreachBatch upsert: per-batch assembly merged into a stored table " +
    "equals whole-input assembly (S4 streaming upsert semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    val asm = graft.meos.Assembly.tfloatAssemble()
    def assembleBatch(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"))
          .as("s"))
        .select(col("user_id"), col("s.t").as("t"), col("s.v").as("v"))
    var stored: DataFrame = null
    def upsert(batch: DataFrame): Unit = {
      val b = assembleBatch(batch)
      stored = if (stored == null) b
        else stored.select(col("user_id"), col("t").as("st"), col("v").as("sv"))
          .join(b.select(col("user_id"), col("t").as("nt"), col("v").as("nv")),
            Seq("user_id"), "full_outer")
          .select(col("user_id"),
            graft.sources.TripSink.mergeTripArrays(
              col("st"), col("sv"), col("nt"), col("nv")).as("m"))
          .select(col("user_id"), col("m.t").as("t"), col("m.v").as("v"))
          .localCheckpoint(true) // keep lineage flat across batches
    }
    val input = MemoryStream[EventIn]
    val q = input.toDS().toDF()
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch((batch: DataFrame, _: Long) => upsert(batch))
      .start()
    try {
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[EventIn].collect()
      val (a, b) = ev.splitAt(ev.length / 2)
      input.addData(a.toSeq: _*); q.processAllAvailable()
      input.addData(b.toSeq: _*); q.processAllAvailable()
      val merged = stored.collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("t"))
        .toMap
      val whole = assembleBatch(Tables.events(spark, sfDir)).collect()
        .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("t"))
        .toMap
      assert(merged == whole)
    } finally q.stop()
  }

  test("windowed streaming aggregation with watermark: tumbling counts " +
    "match batch window counts, late data beyond watermark dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val agg = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("user_id"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("winagg").start()
    try {
      input.addData(
        EventIn(1, ts("2024-01-01 00:10:00"), 1, 1.0),
        EventIn(1, ts("2024-01-01 00:50:00"), 2, 1.0),
        EventIn(1, ts("2024-01-01 02:30:00"), 3, 1.0)) // advances watermark
      q.processAllAvailable()
      // hour-0 window is closed (watermark at 02:20) and emitted
      input.addData(EventIn(1, ts("2024-01-01 00:55:00"), 4, 9.9)) // too late
      q.processAllAvailable()
      input.addData(EventIn(1, ts("2024-01-01 05:00:00"), 5, 1.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
        .map(r => r.getAs[java.sql.Timestamp]("w").toString -> r.getAs[Long]("n"))
        .toMap
      assert(rows("2024-01-01 00:00:00.0") == 2L) // late row NOT counted
      assert(rows("2024-01-01 02:00:00.0") == 1L)
    } finally q.stop()
  }

  test("gap-session trips: in-batch gaps close immediately, quiet " +
    "entities close via event-time timeout at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventIn]
    val q = StreamingAssembly
      .assembleGapSessions(input.toDS(), gapSec = 3600)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_trips").start()
    try {
      // user 1: two posits, then a 3 h in-batch jump → first trip closes
      // inside the batch
      input.addData(
        EventIn(1, ts("2024-01-01 00:00:00"), 1, 1.0),
        EventIn(1, ts("2024-01-01 00:01:00"), 2, 2.0),
        EventIn(1, ts("2024-01-01 03:00:00"), 3, 7.0))
      q.processAllAvailable()
      val b1 = spark.table("gap_trips")
        .as[StreamingAssembly.ClosedTrip].collect()
      assert(b1.length == 1)
      assert(b1(0).user_id == 1L && b1(0).n_posits == 2L)
      assert(b1(0).end_ts == ts("2024-01-01 00:01:00"))

      // user 2 far in the future advances the watermark past user 1's
      // open-trip timeout (03:00 + 1 h); the timeout fires on the NEXT
      // trigger after the watermark update
      input.addData(EventIn(2, ts("2024-01-01 10:00:00"), 4, 5.0))
      q.processAllAvailable()
      input.addData(EventIn(2, ts("2024-01-01 10:01:00"), 5, 6.0))
      q.processAllAvailable()
      val all = spark.table("gap_trips")
        .as[StreamingAssembly.ClosedTrip].collect()
      val u1Trips = all.filter(_.user_id == 1L).sortBy(_.start_ts.getTime)
      assert(u1Trips.length == 2, all.mkString(", "))
      assert(u1Trips(1).n_posits == 1L)
      assert(u1Trips(1).start_ts == ts("2024-01-01 03:00:00"))
      // user 2's trip is still open — nothing emitted for it yet
      assert(!all.exists(_.user_id == 2L))
    } finally q.stop()
  }

  test("file-source streaming ingest: CSVs dropped into a directory " +
    "flow through the AIS projection into stateful assembly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("aisstream").toString
    def writeCsv(name: String, rows: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.write(p,
        ("MMSI,BaseDateTime,LAT,LON,VesselType" +: rows)
          .mkString("\n").getBytes)
    }
    writeCsv("day1.csv", Seq(
      "367000001,2024-01-01T00:00:00,29.95,-90.06,70",
      "367000001,2024-01-01T00:01:00,29.96,-90.05,70"))
    val posits = graft.sources.AisCsv.readStream(spark, dir)
      .withColumn("seq", xxhash64(col("t"), col("lon"), col("lat")))
      .select(col("mmsi"), col("t"), col("seq"), col("lon"), col("lat"))
      .as[StreamingAssembly.PositIn]
    val q = StreamingAssembly.assemblePoints(posits)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("ais_stream").start()
    try {
      q.processAllAvailable()
      val b1 = spark.table("ais_stream")
        .as[StreamingAssembly.PointTripUpdate].collect()
        .filter(_.mmsi == 367000001L).maxBy(_.n_posits)
      assert(b1.n_posits == 2)
      // a new file lands mid-stream → next micro-batch extends the trip
      writeCsv("day2.csv", Seq(
        "367000001,2024-01-01T00:02:00,29.97,-90.04,70"))
      q.processAllAvailable()
      val b2 = spark.table("ais_stream")
        .as[StreamingAssembly.PointTripUpdate].collect()
        .filter(_.mmsi == 367000001L).maxBy(_.n_posits)
      assert(b2.n_posits == 3)
      assert(b2.last_lon == -90.04 && b2.last_lat == 29.97)
    } finally q.stop()
  }

  test("streaming result converges to the batch UDAF on replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // replay sf0.001 events through the stream in two chunks, in time order
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EventIn].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (first, second) = ev.splitAt(ev.length / 2)
    val input = MemoryStream[EventIn]
    val q = StreamingAssembly.assemble(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("trips_replay")
      .start()
    try {
      input.addData(first.toSeq: _*); q.processAllAvailable()
      input.addData(second.toSeq: _*); q.processAllAvailable()
      val streamed = spark.table("trips_replay").as[TripUpdate].collect()
        .groupBy(_.user_id).map { case (u, us) => u -> us.maxBy(_.n_posits) }
      // batch equivalent (q12 semantics: dedupe + monotonic over global order)
      val asm = graft.meos.Assembly.tfloatAssemble()
      val batch = Tables.events(spark, sfDir).groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"))
          .as("s"))
        .select(col("user_id"), col("s.n").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      batch.foreach { case (u, n) =>
        assert(streamed(u).n_posits == n,
          s"user $u streamed ${streamed(u).n_posits} != batch $n")
      }
    } finally q.stop()
  }

  test("file-replay gap sessions == q36 batch gap-split (oracle-grade " +
      "stream/batch equivalence on sf0.001)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val gapSec = 3600L

    // time-ordered replay: 3 sequential files (deterministic mod-times +
    // maxFilesPerTrigger=1 -> 3 micro-batches in event-time order), with
    // one far-future sentinel per user in the LAST file so every open
    // tail closes via the in-batch gap rule and gets emitted
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[EventIn].collect().sortBy(e => (micros(e.ts), e.event_id))
    val maxUs = ev.map(e => micros(e.ts)).max
    val sentinelTs = new Timestamp((maxUs / 1000L) + (gapSec + 7200) * 1000L)
    val sentinels = ev.map(_.user_id).distinct
      .map(u => EventIn(u, sentinelTs, Long.MaxValue, 0.0))
    val k = ev.length / 3
    val chunks = Seq(ev.slice(0, k).toSeq, ev.slice(k, 2 * k).toSeq,
      (ev.drop(2 * k) ++ sentinels).toSeq)

    val srcDir = tempDir("gap-replay-src")
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (c, i) =>
      val tmp = tempDir(s"gap-replay-w$i")
      spark.createDataset(c).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir.toFile, f"chunk$i%02d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(base + i * 10000L)
    }

    val schema = implicitly[org.apache.spark.sql.Encoder[EventIn]].schema
    val stream = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .schema(schema).parquet(srcDir.toString)
      .as[EventIn]
    val q = StreamingAssembly.assembleGapSessions(stream, gapSec)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gap_replay").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("gap_replay")
        .as[StreamingAssembly.ClosedTrip].collect()
        .filter(_.start_ts.getTime < sentinelTs.getTime) // drop sentinels
      // q36's output shape: seg = per-user rank of the trip by start time
      val streamed = closed.groupBy(_.user_id).toSeq
        .flatMap { case (u, trips) =>
          trips.sortBy(_.t.head).zipWithIndex.map { case (tr, i) =>
            (u, i.toLong, tr.n_posits, tr.t.min, tr.t.max, tr.v.min,
              tr.v.max)
          }.toSeq
        }.toSet
      val batch = SparkEntry.queries("q36_gap_split")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
        .toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed -- batch}, " +
          s"only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming exact dedup: same-fingerprint docs dropped across " +
    "micro-batches, state bounded by the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val q = graft.streaming.StreamingDedup
      .dedupByFingerprint(docs, "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("deduped")
      .start()
    try {
      // batch 1: two distinct texts + an in-batch duplicate (whitespace/
      // case variants — the fingerprint normalizes both away)
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, "hello world"),
        (ts("2024-01-01 00:00:10"), 2L, "Hello   WORLD"),
        (ts("2024-01-01 00:00:20"), 3L, "something else"))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate within the horizon (dropped) and
      // one genuinely new doc (kept)
      input.addData(
        (ts("2024-01-01 00:01:00"), 4L, "hello world"),
        (ts("2024-01-01 00:01:30"), 5L, "brand new content"))
      q.processAllAvailable()
      val kept = spark.table("deduped").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L),
        s"expected dups 2/4 dropped, got $kept")
    } finally q.stop()
  }

  test("streaming near-dup: band-colliding docs land in the drop log " +
    "across micro-batches; a duplicate past the horizon is re-admitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val horizonUs = 10L * 60 * 1000 * 1000 // 10 minutes
    val q = graft.streaming.StreamingNearDup
      .dropLog(docs, "ts", "5 minutes", horizonUs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_drops")
      .start()
    try {
      val base = "the quick brown fox jumps over the lazy dog tonight"
      // batch 1: original, an identical twin (all bands collide), and an
      // unrelated doc
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, base),
        (ts("2024-01-01 00:00:10"), 2L, base),
        (ts("2024-01-01 00:00:20"), 3L, "completely different words here"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate inside the horizon -> dropped
      input.addData((ts("2024-01-01 00:05:00"), 4L, base))
      q.processAllAvailable()
      // batch 3: same content but a full horizon after doc 4's sighting —
      // the band entries age out (in-handler gap check), doc 6 is a fresh
      // first-seen, and only genuinely new content follows it
      input.addData((ts("2024-01-01 00:30:00"), 6L, base))
      q.processAllAvailable()
      val drops = spark.table("neardup_drops")
        .select("doc_id", "first_doc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(drops == Set((2L, 1L), (4L, 1L)),
        s"expected docs 2 and 4 dropped against 1, got $drops")
    } finally q.stop()
  }

  test("streaming near-dup: a LATE band row does not rewind the sighting " +
    "clock — a later true near-dup inside the horizon is still dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val horizonUs = 10L * 60 * 1000 * 1000 // 10 minutes
    val q = graft.streaming.StreamingNearDup
      .dropLog(docs, "ts", "5 minutes", horizonUs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("neardup_late")
      .start()
    try {
      val base = "the quick brown fox jumps over the lazy dog tonight"
      // batch 1: first sighting at 00:10 (watermark -> 00:05)
      input.addData((ts("2024-01-01 00:10:00"), 1L, base))
      q.processAllAvailable()
      // batch 2: a LATE duplicate at 00:06 — flatMapGroupsWithState does
      // not pre-filter late input, so the handler sees it; it is a dup
      // (|t - lastSeen| inside the horizon) but must NOT rewind lastSeen
      // from 00:10 back to 00:06
      input.addData((ts("2024-01-01 00:06:00"), 2L, base))
      q.processAllAvailable()
      // batch 3: 00:18 is 8 min after the true last sighting (00:10) —
      // inside the horizon, so it must be dropped. (Under a rewound
      // clock the gap would read 12 min > horizon and doc 3 would be
      // wrongly re-admitted as fresh.)
      input.addData((ts("2024-01-01 00:18:00"), 3L, base))
      q.processAllAvailable()
      val drops = spark.table("neardup_late")
        .select("doc_id", "first_doc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(drops == Set((2L, 1L), (3L, 1L)),
        s"expected late doc 2 and in-horizon doc 3 dropped, got $drops")
    } finally q.stop()
  }

  test("streaming top-terms: chained windowed aggregations emit each " +
    "closed window's top-k (count desc, term asc), late windows evicted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val q = graft.streaming.StreamingTopTerms
      .topTerms(docs, "ts", "1 minute", "10 minutes", k = 2)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("topterms")
      .start()
    try {
      // window [00:00, 00:10): "spark" ×3, "join" ×2, "scan" ×1
      input.addData(
        (ts("2024-01-01 00:01:00"), 1L, "spark join scan"),
        (ts("2024-01-01 00:02:00"), 2L, "spark join"),
        (ts("2024-01-01 00:03:00"), 3L, "spark"))
      q.processAllAvailable()
      // nothing emits while the window is open
      assert(spark.table("topterms").count() == 0)
      // advance the watermark past 00:10 + 1min delay -> window closes
      input.addData((ts("2024-01-01 00:12:00"), 4L, "flink flink stream"))
      q.processAllAvailable()
      val rows = spark.table("topterms")
        .select("win_start", "top").collect()
      assert(rows.length == 1, rows.mkString(";"))
      val top = rows(0).getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getString(1), r.getLong(0)))
      assert(top == Seq(("spark", 3L), ("join", 2L)), top.toString)
      // close the second window too; its top-2 is (flink 2, stream 1)
      input.addData((ts("2024-01-01 00:25:00"), 5L, "tail"))
      q.processAllAvailable()
      val all = spark.table("topterms")
        .select("win_start", "top").collect()
        .map(r => r.getTimestamp(0).toString ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getString(1), x.getLong(0))).toList).toMap
      assert(all("2024-01-01 00:10:00.0") ==
        List(("flink", 2L), ("stream", 1L)), all.toString)
    } finally q.stop()
  }

  test("stream-static enrichment: a streaming frame joins a static " +
    "dimension per micro-batch (broadcast, no stateful shuffle)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val q = input.toDS().toDF("ts", "user_id", "value")
      .join(broadcast(dim), Seq("user_id"), "left")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enriched").start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 1L, 1.0),
        (ts("2024-01-01 00:00:01"), 3L, 2.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:00:02"), 2L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("enriched")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) null else r.getString(3))).toMap
      assert(rows == Map(1L -> "gold", 2L -> "basic", 3L -> null))
    } finally q.stop()
  }

  test("KMV sketch aggregates in a watermarked streaming window and " +
    "matches the batch sketch on the same rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ext.Sketch
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    // hour-0 rows: 40 values, 25 distinct, split across two micro-batches
    val hour0 = (0 until 40).map(i =>
      (ts(f"2024-01-01 00:${i % 60}%02d:00"), s"val-${i % 25}"))
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDS().toDF("ts", "v")
      .withColumn("h", md5(col("v")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(Sketch.kmv(k)(col("h")).as("sk"))
      .select(col("window.start").as("w"),
        Sketch.kmvEstimate(col("sk"), k).as("est"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kmvwin").start()
    try {
      input.addData(hour0.take(20): _*)
      q.processAllAvailable()
      input.addData(hour0.drop(20): _*)
      q.processAllAvailable()
      // advance the watermark past hour 0 so its sketch is emitted
      input.addData((ts("2024-01-01 02:30:00"), "closer"))
      q.processAllAvailable()
      val streamed = spark.table("kmvwin").collect()
        .map(r => r.getAs[Timestamp]("w").toString -> r.getAs[Double]("est"))
        .toMap
      val batch = hour0.toDF("ts", "v")
        .agg(Sketch.kmv(k)(md5(col("v"))).as("sk"))
        .select(Sketch.kmvEstimate(col("sk"), k).as("est"))
        .collect().head.getDouble(0)
      assert(streamed("2024-01-01 00:00:00.0") == batch,
        s"stream ${streamed.mkString(",")} vs batch $batch")
    } finally q.stop()
  }

  test("qs1_stream_replay (the declared query) == q36 batch at sf0.001, " +
    "and restores spark.sql.shuffle.partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val streamed = SparkEntry.queries("qs1_stream_replay")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(spark.conf.get(key) == before, "session config leaked")
    val batch = SparkEntry.queries("q36_gap_split")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)}, " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("qs2_stream_asof (the declared query) == q37 batch at sf0.001, " +
    "and restores spark.sql.shuffle.partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val streamed = SparkEntry.queries("qs2_stream_asof")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(spark.conf.get(key) == before, "session config leaked")
    val batch = SparkEntry.queries("q37_asof_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)}, " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("qs3_stream_window (the declared query) == the batch day-bucket " +
    "GROUP BY at sf0.001, no sentinel rows, and restores " +
    "spark.sql.shuffle.partitions") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val streamed = SparkEntry.queries("qs3_stream_window")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(spark.conf.get(key) == before, "session config leaked")
    val batch = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000)).as("v_milli"))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(!streamed.exists(_.contains("__sentinel__")))
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)}, " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("qs4_stream_dedup (the declared query) == batch distinct " +
    "fingerprints at sf0.001, and restores spark.sql.shuffle.partitions") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val streamed = SparkEntry.queries("qs4_stream_dedup")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    assert(spark.conf.get(key) == before, "session config leaked")
    val batch = Tables.documents(spark, sfDir)
      .select(graft.ext.Text.fingerprint(col("text")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)}, " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("streaming dedup horizon eviction: a duplicate arriving after the " +
    "watermark passed the original's horizon is RE-ADMITTED (bounded " +
    "state, the time-bounded dedup contract)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val q = graft.streaming.StreamingDedup
      .dedupByFingerprint(docs, "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_evict")
      .start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 1L, "hello world"))
      q.processAllAvailable()
      // advances the watermark to 00:20 — past the original's
      // eventTime + horizon (00:10), so its fingerprint state evicts
      input.addData((ts("2024-01-01 00:30:00"), 2L, "filler content"))
      q.processAllAvailable()
      // same fingerprint, farther apart than the horizon → re-admitted
      input.addData((ts("2024-01-01 00:40:00"), 3L, "hello world"))
      q.processAllAvailable()
      val kept = spark.table("dedup_evict").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 3L),
        s"expected horizon-expired duplicate re-admitted, got $kept")
    } finally q.stop()
  }

  test("qs23 distributed ingest: the staging path has NO driver collect " +
    "(source-lint pin — the production ingest path, vs the other " +
    "replays' documented oracle-scaffolding collect), and its emitted " +
    "set equals the ordered-chunk qs3 replay's") {
    // lint: the distributedIngestReplay body must never collect rows —
    // bound aggs (.head() on a one-row agg) are the only driver reads
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/StreamingReplay.scala"))
    val start = src.indexOf("def distributedIngestReplay")
    assert(start > 0, "distributedIngestReplay not found")
    val end = src.indexOf("\n  def ", start) match {
      case -1 => src.length
      case e => e
    }
    val body = src.substring(start, end)
    assert(!body.contains(".collect()"),
      "qs23's staging must stay collect-free — that IS the row's claim")
    assert(!body.contains("writeChunks"),
      "qs23 must not reuse the collect-based writeChunks scaffolding")
    // behavior: unordered executor-written files + 365-day delay emit
    // the same finalized set as the ordered 3-chunk replay
    val a = graft.streaming.StreamingReplay
      .distributedIngestReplay(spark, sfDir).collect().toSeq
    val b = graft.streaming.StreamingReplay
      .windowedAggReplay(spark, sfDir).collect().toSeq
    assert(a == b, s"qs23 diverged from qs3: ${a.take(3)} vs ${b.take(3)}")
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  test("replay runner: after a normal arm and after a drain whose " +
    "transform throws on a row, no query is left active and no temp " +
    "view the run created is left") {
    import org.apache.spark.sql.functions.{col, udf}
    import graft.streaming.StreamingReplay
    val before = tempViews()
    StreamingReplay.windowedAggReplay(spark, sfDir).collect()
    assert(spark.streams.active.isEmpty, "a replay query is still active")
    assert(tempViews() == before, s"views left: ${tempViews() -- before}")

    val d = tempDir("throwing").toString
    spark.range(5).write.mode("overwrite").parquet(d)
    val boom = udf((x: Long) =>
      if (x == 3L) throw new IllegalStateException("planted") else x)
    val e = intercept[Exception] {
      StreamingReplay.replay(spark, "qthrow") {
        spark.readStream.schema("id BIGINT").parquet(d)
          .select(boom(col("id")).as("id"))
      }
    }
    assert(e.toString.contains("planted") ||
      Option(e.getCause).exists(_.toString.contains("planted")), s"$e")
    assert(spark.streams.active.isEmpty, "the failed query is still active")
    assert(tempViews() == before, s"views left: ${tempViews() -- before}")
  }

  test("replay conf scope: shuffle partitions, batch retention, " +
    "checkpoint checksums and the state store provider get their prior " +
    "values back, whether they were set or unset before the run") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.minBatchesToRetain",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    try {
      spark.conf.set(keys(0), "3")
      spark.conf.set(keys(1), "7")
      spark.conf.unset(keys(2))
      spark.conf.unset(keys(3))
      // the RocksDB arm sets all four keys for its start
      graft.streaming.StreamingReplay
        .transformWithStateReplay(spark, sfDir).collect()
      val after = spark.conf.getAll
      assert(after.get(keys(0)).contains("3"))
      assert(after.get(keys(1)).contains("7"))
      assert(!after.contains(keys(2)), after.get(keys(2)))
      assert(!after.contains(keys(3)), after.get(keys(3)))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("replay runner: each drained micro-batch is recorded under its " +
    "query's name with its phase times, for the bench sidecar") {
    import graft.streaming.StreamingReplay
    StreamingReplay.drainBatches()
    StreamingReplay.windowedAggReplay(spark, sfDir).collect()
    val batches = StreamingReplay.drainBatches()
    assert(batches.map(_.batchId) == batches.indices.map(_.toLong),
      s"batches: $batches")
    assert(batches.forall(_.query.startsWith("qs3_replay_")), s"$batches")
    // 2 data batches (3 chunks at 2 files per trigger) + the flush batch
    assert(batches.map(_.inputRows > 0) == Seq(true, true, false),
      s"batches: $batches")
    assert(batches.forall(b => b.durationMs.contains("addBatch") &&
      b.durationMs.contains("queryPlanning")), s"$batches")
    assert(batches.forall(_.stateCommitMs.size == 1), s"$batches")
    assert(StreamingReplay.drainBatches().isEmpty)
  }
}
