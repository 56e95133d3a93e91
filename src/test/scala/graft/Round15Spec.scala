package graft

import java.nio.file.Files

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.sources.{EqualTo, GreaterThan,
  GreaterThanOrEqual, LessThan, LessThanOrEqual}

import graft.sources.v2.{TripEnvelopeIdIndex, TripEnvelopeScanBuilder}

/** Round-15 pins: the pushFilters overflow/fraction guards (ADVICE
  * r14), the generalized aggregate pushdown (MIN/MAX/COUNT, GROUP BY
  * vt, empty-dir COUNT = 0), the commit-time id index, and runtime
  * file pruning (capability #6). */
class Round15Spec extends SparkTestBase {

  private def writeEnvelope(rows: Seq[(Long, Int, String)],
                            parts: Int = 1): String = {
    import spark.implicits._
    val d = tempDir("r15-env").toString + "/env"
    val df = rows.toDF("id", "vt", "json")
    (if (parts > 1) df.repartitionByRange(parts, df("id")) else df)
      .write.format("trip-envelope").mode("overwrite").save(d)
    d
  }

  test("pushFilters guards (ADVICE r14): Long-extreme strict bounds " +
    "and non-integral comparands are DECLINED, not wrapped/truncated") {
    val b = new TripEnvelopeScanBuilder("/tmp/unused", Int.MaxValue)
    val rest = b.pushFilters(Array(
      GreaterThan("id", java.lang.Long.valueOf(Long.MaxValue)),
      LessThan("id", java.lang.Long.valueOf(Long.MinValue)),
      GreaterThan("id", java.lang.Double.valueOf(10.5)),
      EqualTo("id", java.lang.Double.valueOf(10.5)),
      EqualTo("id", new java.math.BigDecimal("10.5")),
      GreaterThanOrEqual("id", java.lang.Long.valueOf(5L))))
    assert(b.pushedFilters().length == 1, "only plain id >= 5 pushes")
    assert(rest.length == 5,
      s"overflow/fractional comparands must stay post-scan: " +
        s"${rest.mkString(",")}")
    // non-strict bounds AT the extremes are exact — they still push
    val b2 = new TripEnvelopeScanBuilder("/tmp/unused", Int.MaxValue)
    val rest2 = b2.pushFilters(Array(
      GreaterThanOrEqual("id", java.lang.Long.valueOf(Long.MaxValue)),
      LessThanOrEqual("id", java.lang.Long.valueOf(Long.MinValue))))
    assert(rest2.isEmpty && b2.pushedFilters().length == 2)
  }

  test("declined extreme bound end-to-end: id > Long.MaxValue returns " +
    "zero rows through the post-scan filter, never a full scan") {
    import org.apache.spark.sql.functions._
    val d = writeEnvelope(Seq((1L, 1, "AA"), (2L, 1, "BB")))
    val out = spark.read.format("trip-envelope").load(d)
      .where(col("id") > Long.MaxValue)
    assert(out.count() == 0L)
  }

  test("aggregate pushdown: MIN(id)/MAX(id)/COUNT(*) under a pushed " +
    "filter — one head-walk partial per file, exact finals") {
    import org.apache.spark.sql.functions._
    val d = writeEnvelope(
      Seq((10L, 1, "AA"), (42L, 2, "BB"), (99L, 1, "CC"),
        (150L, 3, "DD")), parts = 2)
    val agg = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 30L)
      .selectExpr("min(id) AS mn", "max(id) AS mx", "count(*) AS n")
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains(
      "PushedAggregation: [MIN(id), MAX(id), COUNT(*)]"),
      s"min/max pushdown did not fire:\n$plan")
    val r = agg.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((42L, 150L, 3L)))
  }

  test("grouped aggregate pushdown: COUNT/MIN/MAX BY vt — per-file " +
    "per-group partials, Spark re-groups the finals") {
    import org.apache.spark.sql.functions._
    val d = writeEnvelope(
      Seq((10L, 1, "AA"), (42L, 2, "BB"), (99L, 1, "CC"),
        (150L, 3, "DD")), parts = 2)
    val g = spark.read.format("trip-envelope").load(d)
      .groupBy("vt")
      .agg(expr("count(*)").as("n"), min("id").as("mn"),
        max("id").as("mx"))
      .orderBy("vt")
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("PushedGroupBy: [vt]"),
      s"grouped pushdown did not fire:\n$plan")
    val rows = g.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.sameElements(Array(
      (1, 2L, 10L, 99L), (2, 1L, 42L, 42L), (3, 1L, 150L, 150L))))
  }

  test("empty-directory pushed COUNT is 0, not NULL (ADVICE r14): the " +
    "synthetic zero partial; MIN/MAX over nothing stay NULL") {
    val d = tempDir("r15-env-empty").toString
    val c = spark.read.format("trip-envelope").load(d)
      .selectExpr("count(*) AS n").collect()(0)
    assert(!c.isNullAt(0) && c.getLong(0) == 0L,
      s"empty-dir COUNT must be 0, got $c")
    val mm = spark.read.format("trip-envelope").load(d)
      .selectExpr("min(id) AS mn", "max(id) AS mx", "count(*) AS n")
      .collect()(0)
    assert(mm.isNullAt(0) && mm.isNullAt(1) && mm.getLong(2) == 0L)
    // grouped over empty: zero groups, zero rows
    val g = spark.read.format("trip-envelope").load(d)
      .groupBy("vt").count().collect()
    assert(g.isEmpty)
  }

  test("commit-time id index: exact per-file [min, max, rows], " +
    "static range pruning drops non-intersecting files") {
    val rows = (0L until 80L).map(i => (i, 1, s"P$i"))
    val d = writeEnvelope(rows, parts = 4)
    val idx = TripEnvelopeIdIndex.read(d)
    val files = new java.io.File(d).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName)
    assert(files.nonEmpty && files.forall(idx.contains),
      s"index must cover every visible file: $idx vs ${files.toSeq}")
    assert(idx.values.map(_._3).sum == 80L, "row counts must be exact")
    // ranges are disjoint under repartitionByRange and cover 0..79
    assert(idx.values.map(_._1).min == 0L &&
      idx.values.map(_._2).max == 79L)
    // static pruning: a pushed [5, 9] range plans fewer partitions
    val all = {
      val b = new TripEnvelopeScanBuilder(d, Int.MaxValue)
      b.build().toBatch.planInputPartitions().length
    }
    val pruned = {
      val b = new TripEnvelopeScanBuilder(d, Int.MaxValue)
      b.pushFilters(Array(
        GreaterThanOrEqual("id", java.lang.Long.valueOf(5L)),
        LessThanOrEqual("id", java.lang.Long.valueOf(9L))))
      b.build().toBatch.planInputPartitions().length
    }
    assert(all == files.length)
    assert(pruned == 1,
      s"a 5-id slice of a 4-range layout is one file, planned $pruned")
  }

  test("runtime filtering (capability #6): an IN(id) runtime predicate " +
    "re-plans the scan to only the files whose range holds a value") {
    val rows = (0L until 80L).map(i => (i, 1, s"P$i"))
    val d = writeEnvelope(rows, parts = 4)
    val b = new TripEnvelopeScanBuilder(d, Int.MaxValue)
    val scan = b.build()
    val before = scan.toBatch.planInputPartitions().length
    assert(before == 4)
    scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", Array(Expressions.column("id"),
        Expressions.literal(3L), Expressions.literal(63L)))))
    val after = scan.toBatch.planInputPartitions()
    assert(after.length == 2,
      s"ids {3, 63} live in exactly 2 of 4 range files, " +
        s"planned ${after.length}")
    // an unknown-shape predicate is ignored, never over-prunes
    val scan2 = new TripEnvelopeScanBuilder(d, Int.MaxValue).build()
    scan2.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("ALWAYS_TRUE", Array.empty)))
    assert(scan2.toBatch.planInputPartitions().length == 4)
  }

  test("limit pushdown (capability #7): PushedLimit reaches the scan, " +
    "the indexed file PREFIX covers it, and totals stay exact") {
    val rows = (0L until 80L).map(i => (i, 1, s"P$i"))
    val d = writeEnvelope(rows, parts = 4)
    // file-prefix arithmetic: 5 rows over 4 indexed 20-row files = 1
    val b = new TripEnvelopeScanBuilder(d, Int.MaxValue)
    assert(b.pushLimit(5))
    assert(b.build().toBatch.planInputPartitions().length == 1)
    // a pushed filter disables the prefix shortcut (admitted rows no
    // longer equal file rows) — all intersecting files stay planned
    val b2 = new TripEnvelopeScanBuilder(d, Int.MaxValue)
    b2.pushFilters(Array(
      GreaterThanOrEqual("id", java.lang.Long.valueOf(30L))))
    assert(b2.pushLimit(5))
    assert(b2.build().toBatch.planInputPartitions().length > 1)
    // end-to-end: the plan carries the limit; a covering limit returns
    // every row exactly once (partial pushdown + Spark's global limit)
    val q = spark.read.format("trip-envelope").load(d).limit(1000)
      .selectExpr("count(*) AS n")
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedLimit: 1000"))
    assert(q.collect()(0).getLong(0) == 80L)
    val small = spark.read.format("trip-envelope").load(d).limit(7)
      .selectExpr("count(*) AS n").collect()(0).getLong(0)
    assert(small == 7L)
  }

  test("topN pushdown (capability #8): per-reader k-best by id, the " +
    "disjoint-range file prefix, and overlap disables the shortcut") {
    import org.apache.spark.sql.connector.expressions.{Expressions,
      SortDirection}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = (0L until 80L).map(i => (i, 1, s"P$i"))
    val d = writeEnvelope(rows, parts = 4) // disjoint id ranges
    def order(asc: Boolean) = Array(Expressions.sort(
      Expressions.column("id"),
      if (asc) SortDirection.ASCENDING else SortDirection.DESCENDING))
    // ASC prefix: 5 best ids live in the first range file
    val b = new TripEnvelopeScanBuilder(d, Int.MaxValue)
    assert(b.pushTopN(order(asc = true), 5))
    assert(b.build().toBatch.planInputPartitions().length == 1)
    // DESC prefix: the LAST range file
    val b2 = new TripEnvelopeScanBuilder(d, Int.MaxValue)
    assert(b2.pushTopN(order(asc = false), 5))
    assert(b2.build().toBatch.planInputPartitions().length == 1)
    // end-to-end both directions: plan pin + exact rows
    val asc3 = spark.read.format("trip-envelope").load(d)
      .orderBy("id").limit(3)
    assert(asc3.queryExecution.executedPlan.toString
      .contains("PushedTopN: [id ASC] LIMIT 3"))
    assert(asc3.select("id").as[Long].collect().sorted
      .sameElements(Array(0L, 1L, 2L)))
    val desc3 = spark.read.format("trip-envelope").load(d)
      .orderBy(desc("id")).limit(3)
    assert(desc3.queryExecution.executedPlan.toString
      .contains("PushedTopN: [id DESC] LIMIT 3"))
    assert(desc3.select("id").as[Long].collect().sorted
      .sameElements(Array(77L, 78L, 79L)))
    // OVERLAPPING ranges (two appends): the prefix shortcut must
    // disable — a best id could hide in either file — but per-reader
    // k-best still returns the exact set
    val d2 = tempDir("r15-env-ov").toString + "/env"
    (0L until 40L).map(i => (i, 1, s"A$i")).toDF("id", "vt", "json")
      .coalesce(1).write.format("trip-envelope").mode("append").save(d2)
    (20L until 60L).map(i => (i + 1000L, 1, s"B$i"))
      .toDF("id", "vt", "json").coalesce(1)
      .write.format("trip-envelope").mode("append").save(d2)
    // make ranges overlap: third file spanning both
    (30L to 1030L by 500L).map(i => (i, 1, s"C$i"))
      .toDF("id", "vt", "json").coalesce(1)
      .write.format("trip-envelope").mode("append").save(d2)
    val b3 = new TripEnvelopeScanBuilder(d2, Int.MaxValue)
    assert(b3.pushTopN(order(asc = true), 2))
    assert(b3.build().toBatch.planInputPartitions().length == 3,
      "overlapping ranges must plan every file")
    val top2 = spark.read.format("trip-envelope").load(d2)
      .orderBy("id").limit(2).select("id").as[Long].collect().sorted
    assert(top2.sameElements(Array(0L, 1L)))
  }

  test("q91 end-to-end: DPP injects the runtime filter into the " +
    "envelope scan and the joined result is exact") {
    val df = SparkEntry.queries("q91_envelope_runtime_prune")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter reached the envelope scan:\n$plan")
    assert(df.count() > 0)
  }

  test("append-merge: a second batch write EXTENDS _idindex.json — " +
    "the first write's entries survive and totals stay exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = tempDir("r15-env-append").toString + "/env"
    Seq((1L, 1, "AA"), (2L, 1, "BB")).toDF("id", "vt", "json")
      .coalesce(1).write.format("trip-envelope").mode("append").save(d)
    val idx1 = TripEnvelopeIdIndex.read(d)
    Seq((100L, 1, "CC")).toDF("id", "vt", "json")
      .coalesce(1).write.format("trip-envelope").mode("append").save(d)
    val idx2 = TripEnvelopeIdIndex.read(d)
    assert(idx1.keySet.subsetOf(idx2.keySet),
      s"append clobbered the index: $idx1 -> $idx2")
    assert(idx2.values.map(_._3).sum == 3L)
    // and the merged index still serves exact pruning + reads
    val out = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 50L).select("id").collect().map(_.getLong(0))
    assert(out.sameElements(Array(100L)))
  }

  test("unindexed files are never pruned: a foreign line file joins " +
    "the scan regardless of pushed ranges") {
    import org.apache.spark.sql.functions._
    val d = writeEnvelope(Seq((10L, 1, "AA")), parts = 1)
    // a legacy/foreign producer drops a file the index doesn't know
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d, "zz-foreign.txt"),
      """{"id":500,"vt":9,"json":"ZZ"}""".getBytes("UTF-8"))
    val out = spark.read.format("trip-envelope").load(d)
      .where(col("id") >= 400L).select("id").collect().map(_.getLong(0))
    assert(out.sameElements(Array(500L)),
      "the unindexed file must survive pruning and serve its row")
  }

  test("q92 octant classifier: hand steps land in the documented " +
    "sectors (ties: |dy| > |dx| picks the upper half-octant)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // (dx, dy) → octant: E=0, NE-upper=1, NW-upper=3, W=2, SW=4/5, S…
    val cases = Seq(
      (3L, 0L, 0), (3L, 2L, 0), (2L, 3L, 1), (0L, 3L, 1),
      (-2L, 3L, 3), (-3L, 2L, 2), (-3L, -2L, 4), (-2L, -3L, 5),
      (2L, -3L, 7), (3L, -2L, 6), (0L, 0L, -1),
      (3L, 3L, 0), (-3L, 3L, 2), (-3L, -3L, 4), (3L, -3L, 6))
    val got = cases.toDF("dx", "dy", "want")
      .withColumn("oct", expr(
        """CASE WHEN dx = 0 AND dy = 0 THEN -1
          |     WHEN dx >= 0 AND dy >= 0 THEN
          |       CASE WHEN abs(dy) > abs(dx) THEN 1 ELSE 0 END
          |     WHEN dx < 0 AND dy >= 0 THEN
          |       CASE WHEN abs(dy) > abs(dx) THEN 3 ELSE 2 END
          |     WHEN dx < 0 AND dy < 0 THEN
          |       CASE WHEN abs(dy) > abs(dx) THEN 5 ELSE 4 END
          |     ELSE CASE WHEN abs(dy) > abs(dx) THEN 7 ELSE 6 END
          |END""".stripMargin))
      .where(col("oct") =!= col("want")).collect()
    assert(got.isEmpty, s"octant mismatches: ${got.mkString(",")}")
  }

  test("q93 twcentroid: a hand trajectory's time-weighted mean is the " +
    "step-held integral; a single posit reports itself") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = tempDir("r15-tw").toString
    // user 1: x holds 1.0 for 2 s, then 3.0 for 1 s → twx = (1000·2000
    // + 3000·1000) div 3000 = 1666 milli; y constant 2 (len "ab")
    // user 2: single posit → (x, y) reported directly, dur 0
    Seq(
      (1L, 1L, 0L, 1.0, "ab"), (2L, 1L, 2000000L, 3.0, "ab"),
      (3L, 1L, 3000000L, 9.0, "ab"),
      (4L, 2L, 0L, 7.0, "abcd"))
      .toDF("event_id", "user_id", "us", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("t"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("q93_twcentroid")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.sameElements(Array(
      (1L, 3L, 3000L, 1666L, 2L), (2L, 1L, 0L, 7000L, 4L))))
  }
}
