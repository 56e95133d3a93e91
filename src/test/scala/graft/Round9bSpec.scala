package graft

import org.apache.spark.sql.functions._

/** Planted-invariant specs for the round-9 continuation batch: cluster
  * purity (qz14), chance-corrected method agreement (qz15), and the
  * encoding-quality gate (qx65). Fixtures are written as parquet
  * `documents` tables so every assertion exercises the ACTUAL query the
  * driver oracles, not a re-derivation of it. */
class Round9bSpec extends SparkTestBase {
  import spark.implicits._

  private def plantDocs(rows: Seq[(Long, String, String, String, Long)])
      : String = {
    val dir = tempDir("r9bspec").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("qz14 cluster purity: a cross-source duplicate pair splits its " +
    "majority share 50/50 and flags cross_source; a same-source pair is " +
    "pure; singletons never emit a row") {
    val dir = plantDocs(Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "srcA", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "srcB", 30L),
      (3L, "one two three four five", "en", "srcC", 23L),
      (4L, "one two three four five", "en", "srcC", 23L),
      (5L, "unique words only here now", "en", "srcA", 26L)))
    val out = queries.ExtQueries.queries("qz14_cluster_purity")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(out.keySet == Set(1L, 3L), s"got ${out.keySet}")
    assert(out(1L) == (2L, 2L, 1L, 1L, 0.5, true), s"got ${out(1L)}")
    assert(out(3L) == (2L, 1L, 1L, 2L, 1.0, false), s"got ${out(3L)}")
  }

  test("qz15 kappa: when minhash and simhash flag exactly the same " +
    "duplicate pair, agreement is perfect (po = 1, kappa = 1) while " +
    "pe stays strictly under 1") {
    val dir = plantDocs(Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (2L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      (3L, "quick brown foxes jump high", "en", "s", 27L),
      (4L, "seven violet engines hum quietly", "en", "s", 32L),
      (5L, "marble towers overlook green valleys", "en", "s", 36L)))
    val r = queries.ExtQueries.queries("qz15_kappa")(spark, dir)
      .collect().head
    val (n11, n10, n01, n00) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert((n11, n10, n01, n00) == (2L, 0L, 0L, 3L),
      s"got ($n11, $n10, $n01, $n00)")
    assert(r.getDouble(4) == 1.0, s"po ${r.getDouble(4)}")
    assert(r.getDouble(5) < 1.0, s"pe ${r.getDouble(5)}")
    assert(r.getDouble(6) == 1.0, s"kappa ${r.getDouble(6)}")
  }

  test("qz15 kappa on the fixture corpus: counts partition the corpus " +
    "and kappa recomputes exactly from the emitted cells") {
    val n = Tables.documents(spark, sfDir).count()
    val r = queries.ExtQueries.queries("qz15_kappa")(spark, sfDir)
      .collect().head
    val (n11, n10, n01, n00) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n11 + n10 + n01 + n00 == n)
    val po = (n11 + n00).toDouble / n.toDouble
    val pe = ((n11 + n10) * (n11 + n01) +
      (n01 + n00) * (n10 + n00)).toDouble / (n * n).toDouble
    assert(r.getDouble(4) == po && r.getDouble(5) == pe)
    if (pe < 1.0) assert(r.getDouble(6) == (po - pe) / (1.0 - pe))
  }

  test("qx65 encoding audit: U+FFFD and C0 controls flag a doc, " +
    "tab/newline/CR do not count as controls, the non-ASCII fraction " +
    "counts code points, and empty docs guard the fraction to 0") {
    val dir = plantDocs(Seq(
      (1L, "plain ascii text", "en", "s", 16L),
      (2L, "bad � char", "en", "s", 10L),
      (3L, "tab\there\nnewline\rcr", "en", "s", 19L),
      (4L, "ding\u0007bell", "en", "s", 9L),
      (5L, "café naïve", "fr", "s", 10L),
      (6L, "你好", "zh", "s", 2L),
      (7L, "", "en", "s", 0L)))
    val out = queries.ExtQueries.queries("qx65_encoding_audit")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(out(1L) == (0L, 0L, 0L, 16L, 0.0, false), s"got ${out(1L)}")
    // U+FFFD is both a replacement char and a non-ASCII code point
    assert(out(2L) == (1L, 0L, 1L, 10L, 0.1, true), s"got ${out(2L)}")
    assert(out(3L) == (0L, 0L, 0L, 19L, 0.0, false), s"got ${out(3L)}")
    assert(out(4L) == (0L, 1L, 0L, 9L, 0.0, true), s"got ${out(4L)}")
    assert(out(5L) == (0L, 0L, 2L, 10L, 0.2, false), s"got ${out(5L)}")
    assert(out(6L) == (0L, 0L, 2L, 2L, 1.0, true), s"got ${out(6L)}")
    assert(out(7L) == (0L, 0L, 0L, 0L, 0.0, false), s"got ${out(7L)}")
  }

  private def plantEmb(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = tempDir("r9bemb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("qe23 centroid outliers: the one off-axis member of a tight " +
    "label ranks as its worst outlier; per-label output is capped at 5 " +
    "rows with cosine ascending") {
    val tight = Seq.tabulate(5)(i =>
      (i.toLong, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0))
    val odd = Seq((5L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0))
    val other = Seq.tabulate(3)(i =>
      (10L + i, Seq(0.0f, 0.0f, 1.0f, 0.0f), 1))
    val dir = plantEmb(tight ++ odd ++ other)
    val out = queries.ExtQueries.queries("qe23_centroid_outliers")(
      spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val lab0 = out.filter(_._1 == 0)
    assert(lab0.length == 5, s"got ${lab0.length} rows for label 0")
    assert(lab0.head._3 == 5L,
      s"worst outlier of label 0 should be vec 5, got ${lab0.head._3}")
    assert(lab0.map(_._4).toSeq == lab0.map(_._4).sorted.toSeq)
    assert(out.count(_._1 == 1) == 3)
  }

  test("qe24 label affinity: identical-centroid labels score cosine 1, " +
    "orthogonal labels score 0, and only the upper triangle emits") {
    val dir = plantEmb(Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(1.0f, 0.0f), 2)))
    val out = queries.ExtQueries.queries("qe24_label_affinity")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(out.keySet == Set((0, 1), (0, 2), (1, 2)), s"got ${out.keySet}")
    assert(out((0, 1)) == 0.0 && out((1, 2)) == 0.0)
    assert(math.abs(out((0, 2)) - 1.0) < 1e-12, s"got ${out((0, 2))}")
  }

  test("qm6 frame delta: an unchanged frame scores delta 0, a fully " +
    "flipped frame scores 1 per byte, and the first frame of each " +
    "asset emits no row") {
    // 192 chars -> frames at bytes 0/64/128; frame1 repeats 'a',
    // frame2 is all 'b' (|'a'-'b'| = 1 per byte)
    val dir = plantDocs(Seq(
      (1L, "a" * 80 + "b" * 112, "en", "s", 192L)))
    val out = queries.ExtQueries.queries("qm6_frame_delta")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 16L, 0L, 0.0),
      (1L, 2L, 16L, 16L, 1.0)), s"got ${out.toSeq}")
  }

  private def plantEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = tempDir("r9bev").toString
    rows.toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("qz16 funnel: stages advance only on strictly-later events — a " +
    "click BEFORE the first view does not count, a user with no view " +
    "sits at stage 0, and a full ordered chain reaches stage 3") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      // user 1: view < click < purchase → stage 3
      (1L, t0, 1L, "view"), (2L, t0 + 10L, 1L, "click"),
      (3L, t0 + 20L, 1L, "purchase"),
      // user 2: click precedes the first view → stage stalls at 1
      (4L, t0, 2L, "click"), (5L, t0 + 10L, 2L, "view"),
      // user 3: no view at all → stage 0, later events ignored
      (6L, t0, 3L, "click"), (7L, t0 + 10L, 3L, "purchase")))
    val out = queries.ExtQueries.queries("qz16_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 0L), s"got $out")
  }

  test("qz16 funnel: a purchase at the SAME timestamp as the first " +
    "click is not strictly later and does not advance the stage") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 10L, 1L, "click"),
      (3L, t0 + 10L, 1L, "purchase")))
    val out = queries.ExtQueries.queries("qz16_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out == Map(1L -> 2L), s"got $out")
  }

  test("qz17 retention: a user counts once per (cohort, offset) however " +
    "many events they have, cohorts anchor at each user's first week, " +
    "and week-0 retention is exactly 1.0") {
    val day = 86_400_000_000L
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      // users 1,2 start week 0; user 1 returns in week 1 (twice)
      (1L, t0, 1L, "view"), (2L, t0 + 7 * day, 1L, "view"),
      (3L, t0 + 7 * day + 1000L, 1L, "click"),
      (4L, t0 + day, 2L, "view"),
      // user 3 starts two weeks later → its own cohort
      (5L, t0 + 15 * day, 3L, "view")))
    val out = queries.ExtQueries.queries("qz17_retention")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val w0 = out.keys.map(_._1).min
    assert(out(w0 -> 0L) == (2L, 2L, 1.0), s"got ${out(w0 -> 0L)}")
    assert(out(w0 -> 1L) == (1L, 2L, 0.5), s"got ${out(w0 -> 1L)}")
    assert(out.keySet.count(_._2 == 0L) == 2, s"got ${out.keySet}")
  }

  test("qs10 sliding windows: one event lands in exactly 4 overlapping " +
    "hour windows on the 15-minute grid, anchored at its own " +
    "grid-aligned start") {
    val slideUs = 900_000_000L
    val t0 = (1_700_000_000_000_000L / slideUs) * slideUs // grid-aligned
    val dir = plantEvents(Seq((1L, t0, 1L, "view")))
    val out = streaming.StreamingReplay.slidingWindowReplay(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    // grid starts are whole seconds, so millisecond Timestamps are exact
    val expect = (0 to 3).map(i =>
      (new java.sql.Timestamp((t0 - i * slideUs) / 1000L), "view", 1L))
      .sortBy(_._1.getTime)
    assert(out.toSeq == expect, s"got ${out.toSeq}")
  }

  test("qx68 lang mismatch: a doc whose stopwords argmax to its " +
    "declared lang agrees; a mistagged doc flags pred != lang") {
    val dir = plantDocs(Seq(
      (1L, "the cat and the dog of a house", "en", "s", 30L),
      (2L, "the cat and the dog of a house", "fr", "s", 30L)))
    val out = queries.ExtQueries.queries("qx68_lang_mismatch")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L) == ("en", "en", true), s"got ${out(1L)}")
    assert(out(2L) == ("fr", "en", false), s"got ${out(2L)}")
  }

  test("qz18 event transitions: successor pairs follow strict " +
    "(ts, event_id) order per user, never cross users, and " +
    "probabilities row-normalize per from_type") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 10L, 1L, "click"),
      (3L, t0 + 20L, 1L, "view"),
      (4L, t0, 2L, "view"), (5L, t0 + 10L, 2L, "purchase")))
    val out = queries.ExtQueries.queries("qz18_event_transitions")(
      spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("view", "click") -> (1L, 0.5),
      ("view", "purchase") -> (1L, 0.5),
      ("click", "view") -> (1L, 1.0)), s"got $out")
  }

  test("qz19 key skew: shares sum over emitted keys, the hottest key " +
    "leads with skew = n / mean, and ties break by user_id") {
    val t0 = 1_700_000_000_000_000L
    val ev = (1 to 6).map(i => (i.toLong, t0 + i, 1L, "view")) ++
      Seq((7L, t0, 2L, "view"), (8L, t0 + 1, 2L, "view"),
        (9L, t0, 3L, "view"), (10L, t0, 4L, "view"))
    val dir = plantEvents(ev)
    val out = queries.ExtQueries.queries("qz19_key_skew")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 6L, 0.6, 2.4),
      (2L, 2L, 0.2, 0.8),
      (3L, 1L, 0.1, 0.4),
      (4L, 1L, 0.1, 0.4)), s"got ${out.toSeq}")
  }

  test("qz20 dedup savings: duplicate docs price at (n-1)·bytes, line " +
    "grain catches the repeated line inside one doc, and short docs " +
    "yield one whole-text frame each") {
    val dir = plantDocs(Seq(
      (1L, "ab\ncd\nab", "en", "s", 8L),
      (2L, "zz", "en", "s", 2L)))
    val out = queries.ExtQueries.queries("qz20_dedup_savings")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("doc") == (2L, 2L, 0L, 10L, 0L), s"got ${out("doc")}")
    assert(out("line") == (4L, 3L, 1L, 8L, 2L), s"got ${out("line")}")
    assert(out("frame") == (2L, 2L, 0L, 10L, 0L), s"got ${out("frame")}")
  }

  private def plantEventsV(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r9bevv").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("qz21 daily OHLC: open/close follow strict (ts, event_id) order " +
    "within the day, extremes and the milli sum are exact, and days " +
    "bucket independently") {
    val day = 86_400_000_000L
    val t0 = (1_700_000_000_000_000L / day) * day // midnight UTC
    val dir = plantEventsV(Seq(
      (1L, t0 + 100L, 1L, "view", 5.0),
      (2L, t0 + 200L, 1L, "view", 1.0),
      (3L, t0 + 300L, 1L, "view", 3.5),
      (4L, t0 + day + 100L, 1L, "view", 2.0)))
    val out = queries.ExtQueries.queries("qz21_daily_ohlc")(spark, dir)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getLong(6), r.getLong(7)))
    assert(out.toSeq == Seq(
      (5.0, 5.0, 1.0, 3.5, 3L, 9500L),
      (2.0, 2.0, 2.0, 2.0, 1L, 2000L)), s"got ${out.toSeq}")
  }

  test("qx69 interpolated quantiles: exact order statistics at integer " +
    "ranks, linear interpolation at fractional ranks (n=2 median = " +
    "midpoint)") {
    val dir = plantDocs(
      (1 to 5).map(i => (i.toLong, "a", "en", "s", i * 10L)) ++
        Seq((6L, "a", "fr", "s", 10L), (7L, "a", "fr", "s", 20L)))
    val out = queries.ExtQueries.queries("qx69_interp_quantiles")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out("en") == (5L, 20.0, 30.0, 40.0), s"got ${out("en")}")
    assert(out("fr") == (2L, 12.5, 15.0, 17.5), s"got ${out("fr")}")
  }

  test("qs15 timer gap sessions: an in-stream gap closes a session via " +
    "the batch rule, a TAIL session closes only via the fired event-time " +
    "timer (the sentinel is a foreign user — nothing else can close it), " +
    "and per-(user, ts) dups keep the min-event_id row's value") {
    val t0 = 1_700_000_000_000_000L
    val s = 1_000_000L // one second in µs
    val dir = plantEventsV(Seq(
      (1L, t0, 1L, "view", 5.0),
      (2L, t0, 1L, "view", 99.0), // same ts: deduped, value ignored
      (4L, t0 + 1L * s, 2L, "view", 3.0), // user 2: tail-only session
      (3L, t0 + 10L * s, 1L, "view", 1.0),
      (5L, t0 + 3610L * s, 1L, "view", 2.0), // 3600 s gap: splits
      (6L, t0 + 3615L * s, 1L, "view", 7.0)))
    val out = streaming.StreamingReplay.gapSessionTimerReplay(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(out.toSeq == Seq(
      (1L, 0L, 2L, t0, t0 + 10L * s, 1.0, 5.0),
      (1L, 1L, 2L, t0 + 3610L * s, t0 + 3615L * s, 2.0, 7.0),
      (2L, 0L, 1L, t0 + 1L * s, t0 + 1L * s, 3.0, 3.0)),
      s"got ${out.toSeq}")
  }

  test("qs11 full-outer stream-stream join: matched pairs emit once, " +
    "unmatched clicks AND unmatched purchases each emit one null-padded " +
    "row, and the interval boundary stays inclusive") {
    val t0 = 1_700_000_000_000_000L
    val winUs = 21_600L * 1_000_000L
    val dir = plantEventsV(Seq(
      (10L, t0, 1L, "click", 0.0),
      (11L, t0 + winUs, 1L, "purchase", 1.0), // exact bound: matches
      (20L, t0, 2L, "click", 0.0),
      (21L, t0 + winUs + 1L, 2L, "purchase", 1.0), // 1 µs past: 2 rows
      (30L, t0, 3L, "click", 0.0), // click only: null-padded
      (51L, t0, 5L, "purchase", 1.0))) // purchase only: null-padded
    val out = streaming.StreamingReplay
      .streamStreamFullOuterReplay(spark, dir)
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(out == Set(
      (Some(10L), Some(11L)),
      (Some(20L), None), (None, Some(21L)),
      (Some(30L), None), (None, Some(51L))), s"got $out")
  }

  test("qe25 cell-cap sweep: kept + dups is the corpus size at every " +
    "cap, and a larger cap never splits cells, so dups are " +
    "non-decreasing in the cap") {
    val n = Tables.embeddings(spark, sfDir).count()
    val out = queries.ExtQueries.queries("qe25_cellcap_sweep")(
      spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(8L, 24L, 4096L))
    out.foreach { case (_, kept, dups) => assert(kept + dups == n) }
    assert(out.map(_._3).toSeq == out.map(_._3).sorted.toSeq,
      s"dups must be non-decreasing in cap: got ${out.toSeq}")
  }

  test("qp4 eval-split pipeline: a contaminated doc drops into its " +
    "would-be split's loss column, an exact-dup pair spanning splits " +
    "counts as one leak on each side, and clean docs land by md5 " +
    "threshold") {
    // md5 split of small ids: 1,2,4 -> train; 5 -> val; 3 -> test
    val dup = "identical duplicated content rows"
    val dir = plantDocs(Seq(
      (0L, "secret benchmark phrase here", "en", "s", 28L), // benchmark
      (1L, "leak secret benchmark phrase today", "en", "s", 34L),
      (2L, dup, "en", "s", dup.length.toLong),
      (3L, dup, "en", "s", dup.length.toLong),
      (4L, "unique training text alpha", "en", "s", 26L),
      (5L, "another unique validation text", "en", "s", 30L)))
    val out = queries.ExtQueries.queries("qp4_eval_split_pipeline")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3),
        r.getLong(4))).toMap
    assert(out("train") == (2L, 1L, 1L), s"got ${out("train")}")
    assert(out("val") == (1L, 0L, 0L), s"got ${out("val")}")
    assert(out("test") == (1L, 1L, 0L), s"got ${out("test")}")
  }

  test("qs12 transformWithState: the RocksDB-backed per-user ValueState " +
    "survives micro-batches — max running count equals the total event " +
    "count per user") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 10L, 1L, "click"),
      (3L, t0 + 20L, 1L, "view"),
      (4L, t0 + 5L, 2L, "view")))
    val out = streaming.StreamingReplay
      .transformWithStateReplay(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L), s"got $out")
  }

  test("qz22 source diversity: an even two-language source scores " +
    "Simpson 0.5, a monolingual source scores 0, and the dominant " +
    "share is exact") {
    val dir = plantDocs(Seq(
      (1L, "a", "en", "A", 1L), (2L, "a", "en", "A", 1L),
      (3L, "a", "fr", "A", 1L), (4L, "a", "fr", "A", 1L),
      (5L, "a", "en", "B", 1L), (6L, "a", "en", "B", 1L),
      (7L, "a", "en", "B", 1L)))
    val out = queries.ExtQueries.queries("qz22_source_diversity")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(out("A") == (4L, 2L, 0.5, 0.5), s"got ${out("A")}")
    assert(out("B") == (3L, 1L, 0.0, 1.0), s"got ${out("B")}")
  }

  test("qs13 transformWithState MapState: per-(user, type) counters " +
    "accumulate independently inside one user's state across " +
    "micro-batches") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 10L, 1L, "click"),
      (3L, t0 + 20L, 1L, "view"), (4L, t0 + 30L, 1L, "view"),
      (5L, t0 + 5L, 2L, "click")))
    val out = streaming.StreamingReplay
      .transformWithStateMapReplay(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (1L, "view") -> 3L, (1L, "click") -> 1L,
      (2L, "click") -> 1L), s"got $out")
  }

  test("transformWithState event-time timers: the armed timer re-arms " +
    "on new data and fires exactly once when a later batch's watermark " +
    "passes the gap, emitting the closed session; an unexpired tail " +
    "session stays silent") {
    val s = 1_000_000L // 1 s in micros
    val t0 = 1_700_000_000_000_000L
    // user 1's three events re-arm the 10 s timer; the user-99 closer
    // 100 s later drives the watermark past it. User 99's own timer
    // never expires (nothing advances the watermark further).
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"),
      (2L, t0 + s, 1L, "view"),
      (3L, t0 + 2 * s, 1L, "view"),
      (4L, t0 + 100 * s, 99L, "view")))
    val out = streaming.StreamingReplay.idleSessionReplay(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L), s"got $out")
  }

  test("qx70 hapax rate: single-occurrence terms count once per source " +
    "and the fraction is exact") {
    val dir = plantDocs(Seq(
      (1L, "common common rare", "en", "A", 18L),
      (2L, "common unique", "en", "A", 13L),
      (3L, "x y", "en", "B", 3L)))
    val out = queries.ExtQueries.queries("qx70_hapax_rate")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // A: terms {common(3), rare(1), unique(1)} -> 3 terms, 2 hapax
    assert(out("A") == (3L, 2L, 5L, 2.0 / 3.0), s"got ${out("A")}")
    assert(out("B") == (2L, 2L, 2L, 1.0), s"got ${out("B")}")
  }

  test("qz23 trailing range frame: the 7-day window sums by VALUE " +
    "distance — a day 7+ days back falls out even when it is the " +
    "previous row (the sparse-daily case a rows frame gets wrong)") {
    val day = 86_400_000_000L
    val t0 = (1_700_000_000_000_000L / day) * day
    val dir = plantEventsV(Seq(
      (1L, t0, 1L, "view", 1.0), // day 0
      (2L, t0 + day, 1L, "view", 2.0), // day 1
      (3L, t0 + 10 * day, 1L, "view", 4.0))) // day 10: 0/1 aged out
    val out = queries.ExtQueries.queries("qz23_trailing_window")(
      spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    val d0 = out.head._1
    assert(out.toSeq == Seq(
      (d0, 1000L, 1000L, 1L),
      (d0 + 1, 2000L, 3000L, 2L),
      (d0 + 10, 4000L, 4000L, 1L)), s"got ${out.toSeq}")
  }

  test("qx71 metadata correlation: perfectly linear chars-vs-tokens " +
    "scores r = 1, anti-correlated metadata scores r = -1") {
    // source A: n_chars = 10 * tokens (exact line) -> r = 1
    // source B: n_chars decreasing while tokens increase -> r = -1
    val dir = plantDocs(Seq(
      (1L, "a b", "en", "A", 20L),
      (2L, "a b c", "en", "A", 30L),
      (3L, "a b c d", "en", "A", 40L),
      (4L, "a b", "en", "B", 30L),
      (5L, "a b c", "en", "B", 20L),
      (6L, "a b c d", "en", "B", 10L)))
    val out = queries.ExtQueries.queries("qx71_meta_corr")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(math.abs(out("A") - 1.0) < 1e-12, s"got ${out("A")}")
    assert(math.abs(out("B") + 1.0) < 1e-12, s"got ${out("B")}")
  }

  test("qz24 A/B test: a total conversion split (variant 0 all convert, " +
    "variant 1 none) scores the exact pooled chi-square and flags " +
    "significance") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 2L, "purchase"), (2L, t0, 4L, "purchase"), // variant 0
      (3L, t0, 1L, "view"), (4L, t0, 3L, "view"))) // variant 1
    val r = queries.ExtQueries.queries("qz24_ab_test")(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 2L, 2L, 0L), s"got $r")
    // p0=1, p1=0, pooled=0.5 -> chi2 = 1 / (0.25 * 1) = 4.0 > 3.841
    assert(r.getDouble(6) == 4.0, s"chi2 ${r.getDouble(6)}")
    assert(r.getBoolean(7), "should be significant")
  }

  test("qz25 time to convert: only purchases strictly after the first " +
    "view count, latency buckets to whole minutes, and the type-1 " +
    "quantile picks are exact") {
    val s = 1_000_000L
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 90 * s, 1L, "purchase"), // 1 min
      (3L, t0, 2L, "view"), (4L, t0 + 1800 * s, 2L, "purchase"), // 30
      (5L, t0 + 10L, 3L, "purchase"), (6L, t0 + 20L, 3L, "view")))
    val r = queries.ExtQueries.queries("qz25_time_to_convert")(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (2L, 1L, 1L, 30L), s"got $r")
  }

  test("qm7 frame gini: a constant frame scores 0, a 16-distinct-byte " +
    "frame scores the 15/16 maximum, and a 50/50 frame scores 0.5") {
    val dir = plantDocs(Seq(
      // frame0: 'aaaaaaaaaaaaaaaa' (constant), frame1 at byte 64:
      // 'abcdefghijklmnop' (all distinct), frame2 at 128: 8 a's + 8 b's
      (1L, "a" * 64 + "abcdefghijklmnop" + "x" * 48 +
        "aaaaaaaabbbbbbbb" + "y" * 48, "en", "s", 192L)))
    val out = queries.ExtQueries.queries("qm7_frame_gini")(spark, dir)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0L) == (16L, 1L, 0.0), s"got ${out(0L)}")
    assert(out(1L) == (16L, 16L, 1.0 - 16.0 / 256.0), s"got ${out(1L)}")
    assert(out(2L) == (16L, 2L, 0.5), s"got ${out(2L)}")
  }

  test("qs14 transformWithState ListState: the last-3 buffer trims " +
    "across micro-batches in strict event-time order, and a key with " +
    "fewer than 3 events keeps them all") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (11L, t0, 1L, "view"), (12L, t0 + 10L, 1L, "view"),
      (13L, t0 + 20L, 1L, "view"), (14L, t0 + 30L, 1L, "view"),
      (15L, t0 + 40L, 1L, "view"),
      (21L, t0 + 5L, 2L, "view"), (22L, t0 + 15L, 2L, "view")))
    val out = streaming.StreamingReplay
      .transformWithStateListReplay(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    assert(out == Map(
      1L -> (5L, "13,14,15"),
      2L -> (2L, "21,22")), s"got $out")
  }
}
