package graft

import org.apache.spark.sql.functions._

/** Round-16 pins: the LINEAR-interpolation restriction/comparison
  * family's exact rational crossing arithmetic (VERDICT r15 #3) and the
  * q105 distance/tdwithin rollup (VERDICT r15 #4), each against a
  * hand-computed trajectory whose crossings are exact decimals. */
class Round16Spec extends SparkTestBase {

  /** One fixture lake shared by the suite: crafted per-user value
    * ramps whose 250.0-threshold crossings are hand-computable. */
  private lazy val fixtureDir: String = {
    import spark.implicits._
    val d = tempDir("r16-linear").toString
    Seq(
      // user 1 — every q103 branch: below → above → exactly-c →
      // above → below (c = 250.0)
      (1L, 1L, 0L, 100.0), (2L, 1L, 1000000L, 300.0),
      (3L, 1L, 2000000L, 250.0), (4L, 1L, 3000000L, 400.0),
      (5L, 1L, 4000000L, 200.0),
      // user 2 — single posit above c (initial-true, no segments)
      (6L, 2L, 0L, 300.0),
      // user 3 — never true
      (7L, 3L, 0L, 100.0), (8L, 3L, 1000000L, 200.0),
      // users 5/6 = pair 3 — a ramps 0→400 while b holds 200: one
      // exact upward crossing of (a − b) at t = 2 s
      (9L, 5L, 0L, 0.0), (10L, 5L, 4000000L, 400.0),
      (11L, 6L, 0L, 200.0), (12L, 6L, 4000000L, 200.0),
      // users 7/8 = pair 4 — identically equal sides (eq duration)
      (13L, 7L, 0L, 100.0), (14L, 7L, 2000000L, 100.0),
      (15L, 8L, 0L, 100.0), (16L, 8L, 2000000L, 100.0),
      // users 9/10 = pair 5 — a ramps 400→0 against b = 200: the
      // DECREASING difference exercises the dle exit branch (the one
      // the increasing pair 3 never hits — a float cross-check on
      // real data caught exactly that branch wrong once)
      (17L, 9L, 0L, 400.0), (18L, 9L, 4000000L, 0.0),
      (19L, 10L, 0L, 200.0), (20L, 10L, 4000000L, 200.0))
      .toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("event_type", lit("t"))
      .withColumn("props", lit("ab"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("q103 crossing truth table: hand segments split at the exact " +
    "rational crossings; a touch of c splits a maximal run") {
    val out = SparkEntry.queries("q103_linear_when_true")(
      spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    // user 1 by hand: seg1 (100→300): dt·(v2−c)/(v2−v1) = 10⁶·50/200 =
    // 250000 µs, up at 0 + 150·10⁶/200 = 750000; seg2 (300→250): full
    // 10⁶ (touches c exactly at its end), down; seg3 (250→400): 10⁶,
    // up at t=2·10⁶ exactly (the touch splits runs: 2 periods, not 1);
    // seg4 (400→200): 10⁶·150/200 = 750000, down. Σ true = 3·10⁶ µs.
    // user 5's ramp 0→400 crosses c at (250·10³)·4·10⁶ / 400·10³ =
    // 2.5·10⁶ exactly, true for 4·10⁶·150/400 = 1.5·10⁶ µs; users
    // 6/7/8 never exceed c.
    assert(out.toSeq === Seq(
      (1L, 5L, 3000000L, 2L, 2L, 2L, 750000L),
      (2L, 1L, 0L, 1L, 0L, 0L, -1L),
      (3L, 2L, 0L, 0L, 0L, 0L, -1L),
      (5L, 2L, 1500000L, 1L, 1L, 0L, 2500000L),
      (6L, 2L, 0L, 0L, 0L, 0L, -1L),
      (7L, 2L, 0L, 0L, 0L, 0L, -1L),
      (8L, 2L, 0L, 0L, 0L, 0L, -1L),
      // user 9's ramp 400→0: initially true, leaves c after
      // 4·10⁶·150/400 = 1.5·10⁶ µs, one downward crossing
      (9L, 2L, 1500000L, 1L, 0L, 1L, -1L),
      (10L, 2L, 0L, 0L, 0L, 0L, -1L)))
  }

  test("q104 linear compare: the ramp-vs-constant pair splits lt/gt " +
    "at the exact midpoint; identical sides accrue eq time") {
    val out = SparkEntry.queries("q104_linear_compare")(
      spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // pair 3: a(t) = 100 milli/µs · t meets b = 200000 milli at
    // t = 2·10⁶ exactly → lt = gt = 2·10⁶ µs, one upward crossing.
    // (n_seg counts merged-timeline rows; the tie row at t = 0
    // contributes a dt = 0 segment.) pair 4: identical sides → the
    // whole 2·10⁶ µs is eq, no crossings.
    // pair 5 mirrors pair 3 downward: gt for the first 2·10⁶ µs, lt
    // after, one downward crossing.
    assert(out.toSeq === Seq(
      (3L, 2L, 2000000L, 0L, 2000000L, 1L, 0L),
      (4L, 2L, 0L, 2000000L, 0L, 0L, 0L),
      (5L, 2L, 2000000L, 0L, 2000000L, 0L, 1L)))
  }

  test("q105 tdwithin: step distance extremes, duration-weighted " +
    "mean, and the within-eps period set on the merged timeline") {
    val out = SparkEntry.queries("q105_tdwithin")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6),
        r.getLong(7)))
    // pair 1 (users 1/2, b = one posit at 300): step distances
    // 200000, 0, 50000, 100000, 100000 over 1-s holds → mean = Σ d·Δt
    // / 4·10⁶ = 87500; the within-run (d ≤ 100000) starts at the
    // second synced instant and covers the 3 closed segments. pair 3
    // under STEP semantics: d = |a − b| = 200000 milli at every synced
    // instant (a holds 0 until its next posit), so min = max = mean =
    // 200000 and nothing is within eps = 100000. pair 4: identical
    // sides → d ≡ 0, one maximal within-run covering the whole
    // 2·10⁶ µs.
    // pair 5 under step semantics: a HOLDS 400 until its 4-s posit,
    // so d is a constant 200000 at every synced instant, like pair 3.
    assert(out.toSeq === Seq(
      (1L, 5L, 0L, 200000L, 4000000L, 87500.0, 1L, 3000000L),
      (3L, 3L, 200000L, 200000L, 4000000L, 200000.0, 0L, 0L),
      (4L, 3L, 0L, 0L, 2000000L, 0.0, 1L, 2000000L),
      (5L, 3L, 200000L, 200000L, 4000000L, 200000.0, 0L, 0L)))
  }

  test("q107 linear tdwithin: the ramp-vs-constant pair is within " +
    "eps exactly between the two |d| = eps crossings; identical " +
    "sides are fully within everywhere") {
    val out = SparkEntry.queries("q107_linear_tdwithin")(
      spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // pair 3: d(t) = 100 milli/µs · t − 200000 sweeps −200000 →
    // +200000 over 4 s; |d| ≤ 100000 exactly on [1 s, 3 s] → 2·10⁶ µs,
    // one partially-within segment (the t = 0 tie row has dt = 0).
    // pair 4: d ≡ 0 → both merged rows fully within (the tie row is a
    // zero-length within segment), 2·10⁶ µs total.
    // pair 5 (the DECREASING difference — the branch a real-data
    // float cross-check caught wrong): d sweeps +200000 → −200000,
    // within on the middle [1 s, 3 s] = 2·10⁶ µs.
    assert(out.toSeq === Seq(
      (3L, 2L, 2000000L, 0L, 1L),
      (4L, 2L, 2000000L, 2L, 0L),
      (5L, 2L, 2000000L, 0L, 1L)))
  }

  test("q109 linear nearest approach: the crossing ramps attain d = 0 " +
    "at the exact interior vertex instant; constant-offset ties keep " +
    "their endpoint minima") {
    val out = SparkEntry.queries("q109_linear_nad")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // pair 3: the relative displacement sweeps −200000 → +200000 milli
    // (y constant → dy ≡ 0), so the quadratic's interior vertex is
    // exactly 0 at t = 2·10⁶; the t = 0 tie row contributes its
    // endpoint cc = 200000² = 4·10¹⁰ to sum_d2. pair 4: identical
    // sides → every segment 0 at its start. pair 5: the mirrored
    // (decreasing) sweep, same vertex.
    assert(out.toSeq === Seq(
      (3L, 2L, 0L, 2000000L, 40000000000L, 1L),
      (4L, 2L, 0L, 0L, 0L, 0L),
      (5L, 2L, 0L, 2000000L, 40000000000L, 1L)))
  }

  test("connected components: a 2000-deep planted chain (forced onto " +
    "the distributed loop) converges to the exact min labels in " +
    "O(log diameter) supersteps, not O(diameter)") {
    import spark.implicits._
    // chain 0–1–2–…–2000 spread over 8 partitions: the partition-local
    // contraction leaves a ~8-root cross-partition chain, and a second
    // planted chain 100000–100001–…–102000 keeps the edge count above
    // any driver-finish shortcut ambition (we force the loop anyway)
    val edges = ((0L until 2000L).map(i => (i, i + 1)) ++
      (100000L until 102000L).map(i => (i, i + 1)))
      .toDF("d1", "d2").repartition(8)
    val got = graft.ext.Dedup
      .connectedComponents(edges, maxIter = 20, driverFinishEdges = 0L)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq((0L, 2001L), (100000L, 2001L)),
      "both chains must fully converge to their min-node label")
    val steps = graft.ext.Dedup.lastSupersteps.get()
    assert(steps <= 14,
      s"pointer jumping must keep supersteps logarithmic, got $steps")
  }

  private def writeEnvelope(rows: Seq[(Long, Int, String)],
                            parts: Int): String = {
    import spark.implicits._
    val d = tempDir("r16-env").toString + "/env"
    val df = rows.toDF("id", "vt", "json")
    (if (parts > 1) df.repartitionByRange(parts, df("id")) else
      df.coalesce(1))
      .write.format("trip-envelope").mode("overwrite").save(d)
    d
  }

  test("capability #9: single-id files report KeyGroupedPartitioning " +
    "— an id-grouped aggregate plans with ZERO exchange and stays " +
    "correct; a multi-id file falls back to normal (shuffled) " +
    "planning") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val rows = Seq((1L, 1, "AA"), (2L, 1, "BB"), (3L, 2, "CC"),
      (4L, 2, "DD"))
    // one id per file (the index proves min == max for all four)
    val keyed = writeEnvelope(rows, parts = 4)
    val agg = spark.read.format("trip-envelope").load(keyed)
      .groupBy("id").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"keyed id-grouped aggregate must not shuffle:\n$plan")
    assert(agg.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // all four ids in ONE file: min < max → no report → normal plan
    val flat = writeEnvelope(rows, parts = 1)
    val agg2 = spark.read.format("trip-envelope").load(flat)
      .groupBy("id").agg(count(lit(1)).as("n"))
    assert(agg2.queryExecution.executedPlan.toString.contains("Exchange"),
      "a multi-id layout must fall back to shuffled aggregation")
    assert(agg2.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("capability #10: two single-id layouts report partitioning AND " +
    "ordering — a merge-hinted id equi-join plans as a storage-" +
    "partitioned SortMergeJoin with ZERO exchange and ZERO sort") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val rows = Seq((1L, 1, "AA"), (2L, 1, "BB"), (3L, 2, "CC"),
      (4L, 2, "DD"))
    val left = writeEnvelope(rows, parts = 4)
    val right = writeEnvelope(
      rows.map { case (i, v, _) => (i, v + 7, s"D$i") }, parts = 4)
    val a = spark.read.format("trip-envelope").load(left)
      .select(col("id"), col("json").as("payload"))
    val b = spark.read.format("trip-envelope").load(right)
      .select(col("id"), col("json").as("label"))
    val j = a.hint("merge").join(b, "id")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"the merge hint must yield a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange"),
      s"aligned keyed layouts must join without shuffling:\n$plan")
    assert(!plan.contains("Sort ["),
      s"reported ordering must elide both sort nodes:\n$plan")
    assert(j.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "AA", "D1"), (2L, "BB", "D2"), (3L, "CC", "D3"),
        (4L, "DD", "D4")))
  }

  test("capability #9 composes with pruning and pushed id bounds: " +
    "the keyed scan under a pushed filter keeps the exchange-free " +
    "aggregate over the surviving files only") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val keyed = writeEnvelope(Seq((1L, 1, "AA"), (2L, 1, "BB"),
      (3L, 2, "CC"), (4L, 2, "DD")), parts = 4)
    val agg = spark.read.format("trip-envelope").load(keyed)
      .where(col("id") >= 3L)
      .groupBy("id").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"pushed-bound keyed aggregate must not shuffle:\n$plan")
    assert(agg.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((3L, 1L), (4L, 1L)))
  }
}
