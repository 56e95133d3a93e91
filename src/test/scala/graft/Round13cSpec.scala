package graft

import org.apache.spark.sql.functions._

/** Hand-value fixtures + plan pins for the late round-13 batch
  * (q71/q72/qs26/qz71/qz72/qz73) — the Round12Spec §2.25 discipline:
  * every new operator gets a planted input whose answer is computable
  * by hand, so the DuckDB hash gate is backed by a human-checked
  * expected value, not just cross-engine agreement. */
class Round13cSpec extends SparkTestBase {

  import spark.implicits._

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r13cev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantOrders(rows: Seq[(Long, Long)], dir: String): String = {
    rows.toDF("o_orderkey", "o_custkey")
      .select(col("o_orderkey"), col("o_custkey"),
        lit("O").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        timestamp_micros(lit(0L)).as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def plantEmbeddings(rows: Seq[(Long, Seq[Float], Int)])
      : String = {
    val dir = tempDir("r13cemb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("r13cdoc").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- q71: CDC changelog apply by hand ------------------------------------

  test("q71 cdc apply: latest version wins, a trailing tombstone kills " +
    "the key, a tombstone overwritten by a later upsert survives") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      // key 5: two upserts — the later ts (event 4101 @ 20s) wins
      (5L, 10L * S, 1L, "click", 1.111),
      (4101L, 20L * S, 1L, "click", 2.222),
      // key 7: single version, op D (7 % 10 == 7) → key absent
      (7L, 10L * S, 1L, "click", 3.333),
      // key 17: upsert at 10s, tombstone (4113 % 10 = 3 → U! pick ids
      // carefully) — use 9233 % 10 = 3 → U … we want LAST = D: event 17
      // (op D) at the LATER ts kills the earlier upsert 4113
      (4113L, 10L * S, 1L, "click", 4.444),
      (17L, 30L * S, 1L, "click", 5.555),
      // key 33: tombstone at 10s (8129 % 10 ≠ 7 … use 4097? 4097 % 4096
      // = 1 — keys must collide mod 4096) — event 33 itself is U
      // (33 % 10 = 3); partner 4129 (% 4096 = 33, % 10 = 9 → U)
      (33L, 10L * S, 1L, "click", 6.0),
      (4129L, 40L * S, 1L, "click", 7.25)))
    val out = queries.CoreQueries.queries("q71_cdc_apply")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (5L, 2222L, 20L * S, 2L),    // floor(2.222·1000) = 2222
      (33L, 7250L, 40L * S, 2L)),  // 7.25 → 7250
      out.toSeq.toString)
    // keys 7 and 17 (last op D) must be absent
    assert(!out.map(_._1).toSet.exists(Set(7L, 17L)), out.toSeq.toString)
  }

  test("q71 plan: the latest-wins rank filter runs as WindowGroupLimit " +
    "— each key pruned to one row map-side before the shuffle") {
    val p = queries.CoreQueries.queries("q71_cdc_apply")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  // ---- q72: time-weighted average by hand -----------------------------------

  test("q72 twavg: step/linear TWA, total variation and duration over a " +
    "hand trajectory; a duplicate-ts posit is dropped by first-event-id") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      // user 1: (0s, 1.0) (10s, 3.0) (30s, 2.0) — the worked example
      (1L, 0L, 1L, "click", 1.0),
      (2L, 10L * S, 1L, "click", 3.0),
      // duplicate ts with HIGHER event_id: must be ignored (q12 rule)
      (9L, 10L * S, 1L, "click", 99.0),
      (3L, 30L * S, 1L, "click", 2.0)))
    val out = queries.CoreQueries.queries("q72_twavg")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))
    // step: (1000·10M + 3000·20M) / 30M = 70e9 / 30e6
    // linear: (4000·10M + 5000·20M) / 60M = 140e9 / 60e6
    // tv: |3000−1000| + |2000−3000| = 3000
    assert(out.toSeq == Seq(
      (1L, 3L, 30L * S, 3000L, 70e9 / 30e6, 140e9 / 60e6)),
      out.toSeq.toString)
  }

  test("q72 plan: dedupe window, interval lead and the user rollup ride " +
    "ONE shuffle — a single hash exchange on user_id") {
    val p = queries.CoreQueries.queries("q72_twavg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 hash exchange, got $n:\n$p")
  }

  // ---- qz71: join-fanout forecast by hand -----------------------------------

  test("qz71 join fanout: per-key a·b rolled up by decimal magnitude; " +
    "one-sided keys land in bucket 0") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 1L * S, 1L, "click", 1.0), (2L, 2L * S, 1L, "click", 1.0),
      (3L, 3L * S, 1L, "click", 1.0),                    // user 1: a=3
      (4L, 4L * S, 2L, "click", 1.0), (5L, 5L * S, 2L, "click", 1.0)))
    plantOrders(Seq((1L, 1L), (2L, 201L),                // k=1: b=2
      (3L, 2L),                                          // k=2: b=1
      (4L, 55L)), dir)                                   // k=55: right-only
    val out = queries.ExtQueries.queries("qz71_join_fanout")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // key 1: 3·2=6, key 2: 2·1=2 → bucket 1 (1 digit): keys 2, rows 8
    // key 55: right-only → bucket 0: keys 1, rows 0, right mass 1
    assert(out.toSeq == Seq(
      (0L, 1L, 0L, 0L, 1L),
      (1L, 2L, 8L, 5L, 3L)), out.toSeq.toString)
  }

  // ---- qz72: k-anonymity bands by hand ---------------------------------------

  test("qz72 k-anonymity: a unique QI class and a 5-member class band " +
    "correctly with exact masses") {
    val dir = plantDocs(Seq(
      (1L, "a" * 10), (2L, "b" * 20), (3L, "c" * 30), (4L, "d" * 40),
      (5L, "e" * 50),                  // five docs in (en, src0, 0 KB)
      (6L, "f" * 1500)))               // one doc in (en, src0, 1 KB)
    val out = queries.ExtQueries.queries("qz72_k_anonymity")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "unique", 1L, 1L),
      (5L, "5-9", 1L, 5L)), out.toSeq.toString)
  }

  // ---- qz73: winsorization plan by hand ---------------------------------------

  test("qz73 winsorize: exact p1/p99 at rank ceil(q·n) over 200 levels, " +
    "clipped masses and the clamped sum priced exactly") {
    val S = 1_000_000L
    val dir = plantEvents((1L to 200L).map(i =>
      (i, i * S, 1L, "purchase", i.toDouble)))
    val out = queries.ExtQueries.queries("qz73_winsorize")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // n=200: r01 = ceil(2) = 2 → p01 = 2000; r99 = ceil(198) → 198000
    // clipped: 1 below (v=1000), 2 above (199000, 200000)
    // sum = 1000·Σ1..200 = 20_100_000
    // winsor = sum + (2000−1000) − (199000−198000) − (200000−198000)
    assert(out.toSeq == Seq(
      (200L, 2000L, 198000L, 1L, 2L, 20_100_000L, 20_098_000L)),
      out.toSeq.toString)
  }

  // ---- q73: SCD2 point-in-time lookup by hand --------------------------------

  test("q73 scd2 lookup: each purchase reads the version valid the " +
    "instant before it; a first-ever purchase reads 'none'") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 10L * S, 1L, "click", 1.0),
      (2L, 20L * S, 1L, "purchase", 1.0),
      (3L, 30L * S, 1L, "purchase", 1.0),
      (4L, 40L * S, 1L, "view", 1.0),
      (5L, 50L * S, 1L, "purchase", 1.0),
      (10L, 5L * S, 2L, "purchase", 1.0)))
    val out = queries.CoreQueries.queries("q73_scd2_lookup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (2L, 1L, 20L * S, "click", 1L),     // v1 click [10s, 20s)
      (3L, 1L, 30L * S, "purchase", 2L),  // v2 purchase [20s, 40s)
      (5L, 1L, 50L * S, "view", 3L),      // v3 view [40s, 50s)
      (10L, 2L, 5L * S, "none", 0L)),     // first-ever event
      out.toSeq.toString)
  }

  // ---- q74: time above threshold by hand --------------------------------------

  test("q74 at-threshold: step-interpolation dwell above X, crossing " +
    "count and share over a hand trajectory") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 0L, 1L, "click", 100.0),
      (2L, 10L * S, 1L, "click", 300.0),
      (3L, 20L * S, 1L, "click", 200.0),
      (4L, 40L * S, 1L, "click", 250.0),
      (5L, 50L * S, 1L, "click", 240.0)))
    val out = queries.CoreQueries.queries("q74_at_threshold")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // above X=245: [10s,20s) at 300 and [40s,50s) at 250 → 20 s of 50 s;
    // crossings: 100→300, 300→200, 200→250, 250→240 = 4
    assert(out.toSeq == Seq((1L, 50L * S, 20L * S, 4L, 0.4)),
      out.toSeq.toString)
  }

  // ---- qp10: privacy export pipeline by hand -----------------------------------

  test("qp10 privacy export: the unique QI class is suppressed, " +
    "survivors are scrubbed, and the manifest masses are exact") {
    val dir = plantDocs(Seq(
      (1L, "a" * 10), (2L, "b" * 20), (3L, "c" * 30), (4L, "d" * 40),
      (5L, "e" * 50),                 // class (en, src0, 0 KB): size 5
      (6L, "f" * 1500)))              // class (en, src0, 1 KB): unique
    val out = queries.ExtQueries.queries("qp10_privacy_export")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // each survivor's scrub: 1 email + 1 URL + 1 UUID + 1 number = 4;
    // scrubbed appendix is 54 chars, so chars_out = (10+…+50) + 5·54
    assert(out.toSeq == Seq(("src0", 6L, 1L, 5L, 420L, 20L)),
      out.toSeq.toString)
  }

  // ---- q75: corrupt-record quarantine by hand ------------------------------------

  test("q75 corrupt records: good lines roll up per type, the 7 planted " +
    "broken lines land whole in the quarantine row") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 1L * S, 1L, "click", 1.5),
      (2L, 2L * S, 1L, "click", 2.5),
      (3L, 3L * S, 2L, "purchase", 3.0)))
    val out = queries.CoreQueries.queries("q75_corrupt_records")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("__corrupt__", 7L, 0L),
      ("click", 2L, 4000L),
      ("purchase", 1L, 3000L)), out.toSeq.toString)
  }

  // ---- q76: temporal AND by hand ---------------------------------------------------

  test("q76 temporal and: synchronized both-above/any-above dwell over " +
    "two hand trajectories (X = 245)") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 0L, 1L, "click", 300.0),        // u1: 300 until 20 s
      (3L, 20L * S, 1L, "click", 100.0),   // u1: 100 from 20 s
      (2L, 10L * S, 2L, "click", 260.0),   // u2: 260 from 10 s
      (4L, 30L * S, 2L, "click", 250.0)))
    val out = queries.CoreQueries.queries("q76_temporal_and")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // sync span [10 s, 30 s]; both>245 on [10,20) only; any on [10,30)
    assert(out.toSeq == Seq((1L, 10L * S, 20L * S, 20L * S)),
      out.toSeq.toString)
  }

  // ---- qz74: watermark audit by hand -------------------------------------------

  test("qz74 watermark audit: a shard-delayed event lands behind the " +
    "previous arrival-day's max and books its lateness; on-time mass " +
    "books zero") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      // shard 0 (event_id % 4 == 0): ts 23:00 day 0 → arrives day 0
      (4L, 82800L * S, 1L, "click", 1.0),
      // shard 1: ts 22:00 day 0 + 2 h delay → arrives day 1, and the
      // day-0 watermark (23:00) makes it 1 h late
      (1L, 79200L * S, 1L, "click", 1.0),
      // shard 0: ts 01:00 day 1 → arrives day 1, ahead of the carry
      (8L, 90000L * S, 1L, "click", 1.0)))
    val out = queries.ExtQueries.queries("qz74_watermark_audit")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, 2L, 666666L),
      (1L, 1L, 333333L)), out.toSeq.toString)
  }

  // ---- qz75: parquet layout vs the engine's own row counts ----------------------

  test("qz75 parquet layout: footer row masses equal the engine's row " +
    "counts per table (the byte masses are gated bit-for-bit by the " +
    "parquet_metadata twin)") {
    val out = queries.ExtQueries.queries("qz75_parquet_layout")(
      spark, sfDir).collect()
    val byTbl = out.groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(2)).sum }
    for (t <- Seq("events", "documents", "embeddings", "lineitem",
        "orders")) {
      val want =
        if (t == "events") Tables.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$t.parquet").count()
      assert(byTbl(t) == want, s"$t: footer ${byTbl(t)} != scan $want")
    }
    assert(out.forall(r => r.getLong(3) > 0L && r.getLong(4) > 0L),
      "zero byte masses")
  }

  // ---- qe42: filtered kNN by hand --------------------------------------------------

  test("qe42 filtered knn: candidates prune to the probe's label " +
    "before ranking — an other-label twin of the best hit never " +
    "appears") {
    val dir = plantEmbeddings(Seq(
      (0L, Seq(1.0f, 0.0f), 0),    // probe (vec_id % 50 == 0), label 0
      (1L, Seq(1.0f, 0.0f), 0),    // same label, cos 1
      (2L, Seq(0.0f, 1.0f), 0),    // same label, cos 0
      (3L, Seq(1.0f, 0.0f), 1)))   // other label: excluded by filter
    val out = queries.ExtQueries.queries("qe42_filtered_knn")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L, 1L, 1.0),
      (0L, 0L, 2L, 2L, 0.0)), out.toSeq.toString)
  }

  // ---- qx95: split leakage by hand ---------------------------------------------------

  test("qx95 split leakage: the cluster-hash policy leaks ZERO pairs " +
    "by construction; the doc-hash policy leaks exactly the " +
    "cross-bucket pair mass") {
    // two exact-dup pairs → two co-cluster pairs
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine ten"
    val dir = plantDocs(Seq(
      (1L, t1), (2L, t1), (3L, t2), (4L, t2), (5L, "lone doc no twin")))
    val out = queries.ExtQueries.queries("qx95_split_leakage")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // doc-hash buckets via the same md5-prefix fold, computed
    // independently here
    def bucket(k: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 10
    }
    def sp(b: Long) = if (b < 8) "train" else if (b < 9) "val" else "test"
    val crossDoc = Seq((1L, 2L), (3L, 4L))
      .count { case (i, j) => sp(bucket(i)) != sp(bucket(j)) }.toLong
    assert(out.toSeq ==
      Seq((2L, 0L, crossDoc, crossDoc * 1000000L / 2L)),
      s"${out.toSeq} crossDoc=$crossDoc")
  }

  // ---- qz76: partition advisor consistency --------------------------------------------

  test("qz76 partition advisor: footer row masses equal the scans', " +
    "and the 128 MB advice is arithmetically consistent (byte masses " +
    "are gated bit-for-bit by the parquet_metadata twin)") {
    val out = queries.ExtQueries.queries("qz76_partition_advisor")(
      spark, sfDir).collect()
    for (r <- out) {
      val (tbl, groups, rows, comp, files, rpf, gran) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getBoolean(6))
      val want =
        if (tbl == "events") Tables.events(spark, sfDir).count()
        else spark.read.parquet(s"$sfDir/$tbl.parquet").count()
      assert(rows == want, s"$tbl rows")
      assert(files == (comp + 134217727L) / 134217728L, s"$tbl files")
      assert(rpf == rows / files, s"$tbl rpf")
      assert(gran == (comp / groups < 8388608L), s"$tbl gran")
    }
    assert(out.map(_.getString(0)).toSeq ==
      Seq("documents", "embeddings", "events", "lineitem", "orders"))
  }

  // ---- q77: dead-band simplification by hand -----------------------------------------

  test("q77 dead-band: the fold keeps the first posit and every move " +
    "beyond epsilon from the LAST KEPT value; a duplicate-ts posit is " +
    "deduped first") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 10L * S, 1L, "click", 100.0),   // keep (first)
      (2L, 20L * S, 1L, "click", 120.0),   // Δ20 ≤ 50: drop
      (9L, 20L * S, 1L, "click", 999.0),   // dup ts, higher id: deduped
      (3L, 30L * S, 1L, "click", 200.0),   // Δ100 > 50: keep
      (4L, 40L * S, 1L, "click", 210.0),   // Δ10 from 200: drop
      (5L, 50L * S, 1L, "click", 140.0)))  // Δ60 from 200: keep
    val out = queries.CoreQueries.queries("q77_deadband_simplify")(
      spark, dir).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 5L, 3L, 440000L, 400000L)),
      out.toSeq.toString)
  }

  // ---- qs26: file sink exactly-once + decoy invisibility ---------------------

  test("qs26 file sink: every purchase row lands exactly once through " +
    "the manifest-committed sink; the planted orphan part file is " +
    "invisible to the read-back") {
    val S = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, 1L * S, 1L, "purchase", 1.5),
      (2L, 2L * S, 1L, "purchase", 2.5),
      (3L, 3L * S, 2L, "purchase", 3.0),
      (4L, 4L * S, 2L, "click", 9.9)))   // non-purchase: filtered
    val out = queries.CoreQueries.queries("qs26_file_sink")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // decoy user −999 absent ⇒ the batch read honored _spark_metadata
    assert(out.toSeq == Seq((1L, 2L, 4000L), (2L, 1L, 3000L)),
      out.toSeq.toString)
  }
}
