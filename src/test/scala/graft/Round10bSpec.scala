package graft

import org.apache.spark.sql.functions._

/** Round-10 continuation specs: planted-fixture proofs for the AC batch
  * (Benford audit, event-type lift, MATTR, EWMA backtest, centroid
  * silhouette, silence runs) — each test hand-computes the expected
  * integers so the oracle gate isn't the only line of defense. */
class Round10bSpec extends SparkTestBase {
  import spark.implicits._

  private def plantOrders(prices: Seq[Double]): String = {
    val dir = tempDir("r10bord").toString
    prices.zipWithIndex
      .map { case (p, i) => (i.toLong + 1L, 1L, "O", p) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_orderdate",
        timestamp_micros(lit(1_700_000_000_000_000L)))
      .withColumn("o_orderpriority", lit("1-URGENT"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r10bev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("r10bdoc").toString
    rows.map { case (id, t) => (id, t, "en", "webcrawl") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("qz42 benford: hand-computed deviation on planted digits, " +
    "including the unobserved-digit mass (1, 2, 2, 9 over N=4)") {
    val dir = plantOrders(Seq(1.00, 2.50, 20.00, 900.00))
    val out = queries.ExtQueries.queries("qz42_benford")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // digits: 1×1, 2×2, 9×1; ppm literals 301030/176091/45757
    // dev1 = |1e6 − 301030·4| = 204120; dev2 = |2e6 − 176091·4| =
    // 1295636; dev9 = |1e6 − 45757·4| = 816972; Σ = 2316728; missing
    // mass = (1e6 − 522878)·4 = 1908488; tvd = 4225216 // 8 = 528152
    assert(out.toSeq == Seq(
      (1L, 1L, 250000L, 301030L, 528152L),
      (2L, 2L, 500000L, 176091L, 528152L),
      (9L, 1L, 250000L, 45757L, 528152L)), s"got ${out.toSeq}")
  }

  test("qz42 benford: a perfectly-benford planted corpus scores a " +
    "near-zero deviation (counts proportional to the ppm literals)") {
    // 1e6-scale counts are impractical; use the ppm themselves / 1000
    // rounded — tvd must land well under 2000 ppm (rounding residue)
    val counts = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46)
    val prices = counts.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(c)((i + 1).toDouble) }
    val out = queries.ExtQueries.queries("qz42_benford")(
      spark, plantOrders(prices)).collect()
    val tvd = out.head.getLong(4)
    assert(out.length == 9 && tvd < 2000L, s"tvd=$tvd")
  }

  test("qz43 lift: independent types score 1.0 on a planted universe " +
    "and n_both never exceeds either marginal") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0), (2L, t0 + 1L, 1L, "click", 0.0),
      (3L, t0 + 2L, 2L, "view", 0.0),
      (4L, t0 + 3L, 3L, "view", 0.0), (5L, t0 + 4L, 3L, "click", 0.0)))
    val out = queries.ExtQueries.queries("qz43_event_type_lift")(
      spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    // nu=3, n_click=2, n_view=3, n_both=2 → lift = 2·3/(2·3) = 1.0
    assert(r.getString(0) == "click" && r.getString(1) == "view" &&
      r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 3L &&
      r.getDouble(5) == 1.0, s"got $r")
  }

  test("qx79 mattr: all-identical 30-token doc scores 40 milli " +
    "(6 windows × 1 distinct / 150 scanned); a 10-distinct-token doc " +
    "takes the single whole-doc window and scores 1000") {
    val dir = plantDocs(Seq(
      (1L, Seq.fill(30)("a").mkString(" ")),
      (2L, (1 to 10).map(i => s"w$i").mkString(" "))))
    val out = queries.ExtQueries.queries("qx79_mattr")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 30L, 6L, 40L), (2L, 10L, 1L, 1000L)),
      s"got ${out.toSeq}")
  }

  test("qz44 ewma backtest: a constant daily series forecasts itself " +
    "exactly (ewma_milli = 1000·x, naive = x) and never strictly wins") {
    val t0 = 1_700_000_000_000_000L
    val day = 86_400_000_000L
    val dir = plantEvents((0 until 25).flatMap(d => Seq(
      (d * 2L + 1L, t0 + d * day, 1L, "view", 0.0),
      (d * 2L + 2L, t0 + d * day + 1L, 2L, "view", 0.0))))
    val out = queries.ExtQueries.queries("qz44_ewma_backtest")(
      spark, dir).collect()
    assert(out.length == 24) // first day has no trailing window
    out.foreach { r =>
      assert(r.getLong(1) == 2L && r.getLong(2) == 2000L &&
        r.getLong(3) == 2L && !r.getBoolean(4), s"got $r")
    }
  }

  test("qe29 silhouette: cos_own dominates cos_next on every vector " +
    "of the real corpus, and the cell means stay inside [-1, 1] while " +
    "covering the whole corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val top2 = ext.Similarity.cellAssignTop2(emb, nlist = 16,
      cacheKey = Some(s"$sfDir|nlist=16|iters=5"))
    val bad = top2.where(col("cos_own") < col("cos_next")).count()
    assert(bad == 0L, s"$bad vectors rank a foreign centroid first")
    val out = queries.ExtQueries.queries("qe29_silhouette")(
      spark, sfDir).collect()
    assert(out.map(_.getLong(1)).sum == emb.count())
    out.foreach { r =>
      val m = r.getDouble(3)
      assert(m >= -1.0 && m <= 1.0, s"mean_sil out of range: $r")
    }
  }

  test("qz45 mann-whitney: hand-computed doubled U and tie-corrected z " +
    "on a 3-row fixture, and the all-tied degenerate pins z = 0") {
    val t0 = 1_700_000_000_000_000L
    val d1 = plantEvents(Seq(
      (1L, t0, 1L, "purchase", 0.001), (2L, t0 + 1L, 1L, "purchase", 0.002),
      (3L, t0 + 2L, 2L, "view", 0.003)))
    val r = queries.ExtQueries.queries("qz45_mann_whitney")(spark, d1)
      .collect().head
    // ranks 1,2 to purchase → U1 = 0; z = −2/(2·sqrt(2·24/72))
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L && r.getLong(2) == 0L)
    assert(math.abs(r.getDouble(3) - (-1.224744871391589)) < 1e-12,
      s"z=$r")
    val d2 = plantEvents(Seq(
      (1L, t0, 1L, "purchase", 0.001), (2L, t0 + 1L, 1L, "purchase", 0.001),
      (3L, t0 + 2L, 2L, "view", 0.001)))
    val r2 = queries.ExtQueries.queries("qz45_mann_whitney")(spark, d2)
      .collect().head
    // all tied: doubled U = n1·n2, zero variance → z pinned to 0
    assert(r2.getLong(2) == 2L && r2.getDouble(3) == 0.0, s"got $r2")
  }

  private def plantDocsEmb(docs: Seq[(Long, String)],
                           embs: Seq[(Long, Seq[Float])]): String = {
    val dir = tempDir("r10bde").toString
    docs.map { case (id, t) => (id, t, "en", "webcrawl") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embs.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("qx80 paraphrase mining: an identical-text pair is NOT a " +
    "paraphrase (high jaccard drops it), while semantically-identical " +
    "but lexically-disjoint pairs surface with n_int = 0") {
    val e = Seq(1f, 2f, 3f, 4f)
    val dir = plantDocsEmb(
      Seq((0L, "the quick brown fox jumps"),
        (1L, "completely different words entirely here"),
        (2L, "the quick brown fox jumps")),
      Seq((0L, e), (1L, e), (2L, e)))
    val out = queries.ExtQueries.queries("qx80_paraphrase_mining")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // (0,2) identical text → jac 1000, dropped; (0,1) and (1,2) kept
    assert(out.toSeq == Seq((0L, 1L, 0L, 0L), (1L, 2L, 0L, 0L)),
      s"got ${out.toSeq}")
  }

  test("qz46 table profile: exact NDV, native-typed min/max through " +
    "the integer domains, and zero nulls on a planted table") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 1.5),
      (2L, t0 + 5L, 1L, "click", 2.25),
      (3L, t0 + 9L, 2L, "view", -0.5)))
    val out = queries.ExtQueries.queries("qz46_table_profile")(
      spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out("event_id") == ((3L, 0L, 3L, "1", "3")))
    assert(out("event_type") == ((3L, 0L, 2L, "click", "view")))
    assert(out("user_id") == ((3L, 0L, 2L, "1", "2")))
    assert(out("value") == ((3L, 0L, 3L, "-500", "2250")))
    assert(out("ts") == ((3L, 0L, 3L, t0.toString, (t0 + 9L).toString)))
  }

  test("qm15 frame chi2: identical-bin frames score 0 and a full bin " +
    "shift scores the hand-computed 32000 with scene_change set") {
    val dir = plantDocs(Seq(
      (1L, "a" * 64 + "0" * 64), // frame0 all bin-1, frame1 all bin-0
      (2L, "b" * 128))) // both sampled frames identical → chi2 0
    val out = queries.ExtQueries.queries("qm15_frame_chi2")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq((1L, 0L, 32000L, true),
      (2L, 0L, 0L, false)), s"got ${out.toSeq}")
  }

  test("qz47 peak concurrency: overlapping sessions stack, and a " +
    "midnight-spanning session's carried-in level wins the next day's " +
    "peak even when its only in-day change point is the -1 endpoint") {
    val t0 = 1_700_006_400_000_000L // 2023-11-15 00:00:00 UTC + offset
    val day0 = t0 / 86400000000L
    val m = 60_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0), // user1 session [t0, t0+10m]
      (2L, t0 + 10L * m, 1L, "view", 0.0),
      (3L, t0 + 5L * m, 2L, "view", 0.0), // user2 point session, overlaps
      // user3 session crossing midnight: 23:50 → 00:10 next day
      (4L, t0 + 1430L * m - (t0 % 86400000000L), 3L, "view", 0.0),
      (5L, t0 + 1450L * m - (t0 % 86400000000L), 3L, "view", 0.0)))
    val out = queries.ExtQueries.queries("qz47_peak_concurrency")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // day0: +1(t0) +1(5m) −1(5m+1) −1(10m+1) +1(23:50) → peak 2
    // day1: carry 1, only −1 at 00:10+1µs → peak = carry = 1
    assert(out.toSeq == Seq((day0, 5L, 2L), (day0 + 1L, 1L, 1L)),
      s"got ${out.toSeq}")
  }

  test("qm14 silence runs: hand-computed run structure on two planted " +
    "16-byte frames (spaces are the silent band)") {
    val dir = plantDocs(Seq(
      (1L, "ab cd ef gh ijkl"), // spaces at 3,6,9,12 → 4 runs of 1
      (2L, "a    bcd efgh ij"))) // runs of 4, 1, 1 → max 4, silent 6
    val out = queries.ExtQueries.queries("qm14_silence_runs")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 4L, 4L, 1L), (2L, 6L, 3L, 4L)),
      s"got ${out.toSeq}")
  }
}
