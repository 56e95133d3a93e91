package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types.StructType

import graft.sources.v2.TripEnvelopeMicroBatchStream

/** Round-14 pins. */
class Round14Spec extends SparkTestBase {

  private def plantEnvelopeDir(n: Int): String = {
    val d = tempDir("r14-env").toString
    (0 until n).foreach { i =>
      Files.write(Paths.get(d, f"part-$i%05d-$i.txt"),
        s"""{"id":$i,"vt":1,"json":"AB"}""".getBytes(StandardCharsets.UTF_8))
    }
    d
  }

  private def offsetOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json().toLong

  test("q84 envelope filter pushdown: the id range reaches the scan, " +
    "unpushable predicates stay post-scan, statistics are reported") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = tempDir("r14-envpush").toString + "/env"
    Seq((10L, 1, "AA"), (42L, 1, "BB"), (99L, 1, "CC"), (150L, 1, "DD"))
      .toDF("id", "vt", "json")
      .write.format("trip-envelope").mode("overwrite").save(d)
    val pushed = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 30L && col("id") < 100L)
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [id in [30, 99]]"),
      s"pushed range missing from scan description:\n$plan")
    // the pushed filter is exact: no duplicate post-scan Filter on id
    // bounds survives (Spark drops handled filters), and the result is
    // the matching rows only
    assert(pushed.select("id").as[Long].collect().sorted
      .sameElements(Array(42L, 99L)))
    // a payload predicate is NOT pushable — it must stay post-scan and
    // still evaluate correctly
    val mixed = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 30L && col("json") === "BB")
    assert(mixed.select("id").as[Long].collect().sameElements(Array(42L)))
    val mixedPlan = mixed.queryExecution.executedPlan.toString
    assert(mixedPlan.contains("Filter"),
      s"payload predicate vanished from the post-scan plan:\n$mixedPlan")
    // COUNT(*) pushdown: the scan flips to partial-count rows (one per
    // file), the description says so, and the summed result is exact
    val counted = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 30L && col("id") < 100L)
      .selectExpr("count(*) AS n")
    val cPlan = counted.queryExecution.executedPlan.toString
    assert(cPlan.contains("PushedAggregation: [COUNT(*)]"),
      s"count pushdown did not fire:\n$cPlan")
    assert(counted.as[Long].collect().sameElements(Array(2L)))
    // unfiltered count: pure line count, still exact
    val all = spark.read.format("trip-envelope").load(d)
      .selectExpr("count(*) AS n")
    assert(all.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(all.as[Long].collect().sameElements(Array(4L)))

    // reported statistics: the listing's byte total reaches the planner
    val scanStats = spark.read.format("trip-envelope").load(d)
      .queryExecution.optimizedPlan.stats
    val onDisk = new java.io.File(d).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_")).map(_.length).sum
    assert(scanStats.sizeInBytes == BigInt(onDisk),
      s"stats ${scanStats.sizeInBytes} != on-disk $onDisk")
  }

  test("rawckpt scheme: replay checkpoints write through the raw local " +
    "FS — offset/commit/state files exist, no .crc sidecars") {
    SparkEntry.queries("qs1_stream_replay")(spark, sfDir).count()
    val shm = new java.io.File("/dev/shm")
    val tmp = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    // only the STREAMING replay roots (they hold *_replay_* query
    // dirs) — Materialize's reliable RDD checkpoints share the name
    // prefix in test JVMs and legitimately keep Hadoop sidecars
    val roots = (Option(shm.listFiles()).getOrElse(Array.empty) ++
      Option(tmp.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isDirectory && f.getName.startsWith("graft-ckpt") &&
        Option(f.listFiles()).getOrElse(Array.empty)
          .exists(_.getName.contains("_replay_")))
    assert(roots.nonEmpty, "no replay checkpoint root found")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val files = roots.flatMap(walk)
    assert(files.nonEmpty, "checkpoint root is empty — nothing committed")
    val crcs = files.filter(_.getName.endsWith(".crc"))
    assert(crcs.isEmpty,
      s"checksum sidecars written through rawckpt://: ${crcs.take(3)}")
  }

  test("qx96 eval decontamination: a planted verbatim 13-gram is " +
    "flagged, a 12-token overlap is not, self-hits are excluded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = tempDir("r14-decontam").toString
    val w = (1 to 20).map("w" + _)
    val donor = w.mkString(" ")                      // doc 62: % 31 == 0
    val hit = ("p1 p2 " + w.slice(2, 15).mkString(" ") +
      " p3 p4 p5 p6").trim                           // 13 verbatim tokens
    val miss = ("p1 p2 " + w.slice(2, 14).mkString(" ") +
      " zz p3 p4 p5 p6").trim                        // only 12 in a row
    Seq((62L, donor), (5L, hit), (7L, miss))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("qx96_eval_decontam")(spark, d).collect()
    assert(out.length == 1)
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2)) ==
      ((5L, 1L, 1L)))
  }

  test("q78 Douglas-Peucker: hand trajectory simplifies to the " +
    "hand-computed kept set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // user 1, eps = 250 milli: points (t_ms, v) = (0,0.0), (1000,1.0),
    // (2000,0.0), (3000,0.05), (4000,0.1).
    // Root chord (1,5): max dev at i=2 (3.9e6 > 1.0e6) -> split.
    // (2,5): max dev at i=3 (2.1e6 > 0.75e6) -> split.
    // (3,5): dev at i=4 = |50*2000 - 100*1000| = 0 -> final.
    // Kept {1,2,3,5}: n_kept 4, milli sum 0+1000+0+100 = 1100,
    // dropped_ppm = 1000000*1 // 5 = 200000.
    val d = tempDir("r14-dp").toString
    Seq(
      (1L, 0L, 1L, 0.0), (1L, 1000L, 2L, 1.0), (1L, 2000L, 3L, 0.0),
      (1L, 3000L, 4L, 0.05), (1L, 4000L, 5L, 0.1))
      .toDF("user_id", "ms", "event_id", "value")
      .select(col("user_id"), timestamp_millis(col("ms")).as("ts"),
        col("event_id"), col("value"),
        lit("x").as("event_type"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q78_dp_simplify")(spark, d).collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 5L, 4L, 1100L, 200000L)))
  }

  test("MicroBatchStream restart: latestOffset never regresses below a " +
    "checkpoint-recovered committed offset (ADVICE r13)") {
    spark.sparkContext.setLogLevel("ERROR") // touch the session first
    val dir = plantEnvelopeDir(9)
    val schema = StructType.fromDDL("id BIGINT, vt INT, json STRING")
    // fresh driver after restart: `admitted` is empty; Spark replays the
    // checkpointed end offset through deserializeOffset before asking
    // for the next latestOffset
    val restarted = new TripEnvelopeMicroBatchStream(dir, schema, 3)
    val committed = restarted.deserializeOffset("6")
    assert(offsetOf(committed) == 6L)
    // pre-fix this read 3 (empty prefix + maxFilesPerBatch) — a
    // regression Spark would commit, replanning (3,6] and re-delivering
    // committed files; with the floor it admits past 6 up to 6+3 = 9
    assert(offsetOf(restarted.latestOffset()) == 9L)
  }

  test("qz75 distributed footer walk: global per-table row-group " +
    "numbering over multi-file directory layouts matches a driver walk") {
    import scala.jdk.CollectionConverters._
    val d = tempDir("r14-layout").toString
    // stage every layout table as a DIRECTORY of part files so the
    // one-task-per-file parse and its base-offset renumbering are
    // actually exercised (the sf dirs are single-file)
    val tables = Seq("events", "documents", "embeddings", "lineitem",
      "orders")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").repartition(3)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    val out = SparkEntry.queries("qz75_parquet_layout")(spark, d)
      .collect()
    val conf = spark.sessionState.newHadoopConf()
    tables.foreach { t =>
      val rows = out.filter(_.getString(0) == t)
      // contiguous global numbering 0..n-1 per table
      assert(rows.map(_.getLong(1)).sorted.sameElements(
        rows.indices.map(_.toLong)), s"$t: non-contiguous row groups")
      // driver-walk twin: same (row_group → n_rows) assignment
      val p = new org.apache.hadoop.fs.Path(s"$d/$t.parquet")
      val fs = p.getFileSystem(conf)
      val files = fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).sortBy(_.getName)
      val want = files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getFooter.getBlocks.asScala.toList.map(b =>
          (b.getRowCount, b.getColumns.asScala.map(_.getTotalSize).sum))
        finally r.close()
      }.zipWithIndex.map { case ((n, c), i) => (i.toLong, n, c) }
      val got = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(got.sameElements(want), s"$t: footer rows diverge")
    }
  }

  test("MicroBatchStream restart: planInputPartitions also raises the " +
    "floor, and lost files past the floor fail fast") {
    val dir = plantEnvelopeDir(5)
    val schema = StructType.fromDDL("id BIGINT, vt INT, json STRING")
    val restarted = new TripEnvelopeMicroBatchStream(dir, schema, 2)
    // restart where Spark first replans the last uncommitted batch
    // (start=2, end=4) before asking for a new offset
    val parts = restarted.planInputPartitions(
      restarted.deserializeOffset("2"), restarted.deserializeOffset("4"))
    assert(parts.length == 2)
    assert(offsetOf(restarted.latestOffset()) == 5L) // 4 + 2 capped at 5
    // a second restart against a truncated listing must fail fast, not
    // silently regress: committed 5, but only 1 file survives
    val lossy = plantEnvelopeDir(1)
    val broken = new TripEnvelopeMicroBatchStream(lossy, schema, 2)
    broken.deserializeOffset("5")
    val e = intercept[IllegalArgumentException](broken.latestOffset())
    assert(e.getMessage.contains("lost files"))
  }
}
