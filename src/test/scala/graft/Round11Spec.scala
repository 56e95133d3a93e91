package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: the ADVICE r10 contract fixes plus the AD
  * operator batch. */
class Round11Spec extends SparkTestBase {
  import spark.implicits._

  test("saltedJoin rejects dim-preserving join types (right/full outer " +
       "would emit each unmatched dim row `salts` times)") {
    val fact = Seq((1, 10L), (1, 11L), (2, 12L)).toDF("k", "row_id")
    val dim  = Seq((1, "a"), (3, "c")).toDF("k", "v")
    // fact-preserving types pass through
    for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      val out = ext.Skew.saltedJoin(fact, dim, "k", "row_id", 4, jt)
      assert(out.columns.contains("k"))
    }
    // left_outer really is row-for-row equal to the unsalted join
    val salted = ext.Skew.saltedJoin(fact, dim, "k", "row_id", 4, "left_outer")
      .orderBy("row_id").collect().map(_.toSeq).toSeq
    val plain = fact.join(dim, Seq("k"), "left_outer")
      .orderBy("row_id").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    // dim-preserving types are rejected up front
    for (jt <- Seq("right_outer", "full_outer", "outer", "cross")) {
      val e = intercept[IllegalArgumentException] {
        ext.Skew.saltedJoin(fact, dim, "k", "row_id", 4, jt)
      }
      assert(e.getMessage.contains("fact-preserving"))
    }
  }

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r11ev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val DayUs = 86_400_000_000L

  test("qz51 theil-sen: one outlier day bends OLS but not the pairwise-" +
    "slope median; hand-computed slope, intercept, pair count") {
    // days D..D+4 with counts 10,12,14,16,100 — the steady +2/day trend
    // with a crawler-burst final day. 10 pairwise slopes sorted:
    // six 2000-milli terms then 22500/29333/43000/84000; lower median
    // (5th of 10) = 2000. Intercepts 1000x - 2000*day: four equal
    // values 10000-2000D and one outlier; lower median (3rd of 5).
    val t0 = 19_700L * DayUs
    var id = 0L
    val rows = Seq(10, 12, 14, 16, 100).zipWithIndex.flatMap {
      case (n, d) => (1 to n).map { i => id += 1
        (id, t0 + d * DayUs + i * 1_000_000L, id % 5, "view", 0.0) }
    }
    val r = queries.ExtQueries.queries("qz51_theil_sen")(
      spark, plantEvents(rows)).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 5L, s"n_days: ${r(0)}")    // n_days
    assert(r(0).getLong(1) == 10L, s"n_pairs: ${r(0)}")  // n_pairs
    assert(r(0).getLong(2) == 2000L, s"slope: ${r(0)}")  // slope_milli
    assert(r(0).getLong(3) == 10_000L - 2000L * 19_700L,
      s"intercept: ${r(0)}")
  }

  test("qz52 stl: a pure dow-0 bump decomposes into flat trend, the " +
    "exact dow seasonal, and zero remainder on all full-window rows") {
    // 21 days, x = 107 on dow 0 (absolute day % 7) else 100. Every
    // complete 7-day window holds exactly one dow-0 day, so
    // trend = (6*100+107)*1000/7 = 101000 milli everywhere it exists;
    // detrended = +6000 on dow 0, -1000 elsewhere; seasonal = the same
    // by dow; remainder = 0. First and last 3 days: NULL trend/resid.
    val d0 = 19_700L
    var id = 0L
    val rows = (0 until 21).flatMap { d =>
      val n = if ((d0 + d) % 7 == 0) 107 else 100
      (1 to n).map { i => id += 1
        (id, (d0 + d) * DayUs + i * 1_000_000L, id % 3, "view", 0.0) }
    }
    val out = queries.ExtQueries.queries("qz52_stl_decompose")(
      spark, plantEvents(rows)).collect()
    assert(out.length == 21)
    out.foreach { r =>
      val day = r.getLong(0)
      val edge = day < d0 + 3 || day > d0 + 17
      if (edge) {
        assert(r.isNullAt(2) && r.isNullAt(4), s"edge row: $r")
      } else {
        assert(r.getLong(2) == 101_000L, s"trend: $r")
        assert(r.getLong(4) == 0L, s"resid: $r")
      }
      assert(r.getLong(3) == (if (day % 7 == 0) 6000L else -1000L),
        s"seas: $r")
    }
  }

  test("qz53 nelson-aalen: censoring removes the still-active user from " +
    "the churn count but keeps them in the risk set") {
    // u1 lives days 0->2 (churned: silent 8 days before horizon),
    // u3 lives day 0 only (churned), u2 active through day 10 (the
    // horizon; censored). Risk sets: T=0 -> 3, T=2 -> 2; hazards
    // 1/3 and 1/2 in floored micro; T=10 has d=0 and is filtered.
    val t0 = 19_700L * DayUs
    val rows = Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + 2 * DayUs, 1L, "view", 0.0),
      (3L, t0, 3L, "view", 0.0)) ++
      (0 to 10).map(d => (10L + d, t0 + d * DayUs, 2L, "view", 0.0))
    val out = queries.ExtQueries.queries("qz53_nelson_aalen")(
      spark, plantEvents(rows)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq == Seq(
      (0L, 3L, 1L, 0L, 333_333L, 333_333L),
      (2L, 2L, 1L, 0L, 500_000L, 833_333L)), out.mkString("; "))
  }

  private def plantDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("r11doc").toString
    rows.map { case (id, t, src) => (id, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("qz54 kruskal-wallis: two dow-0 spike days over two flat weeks " +
    "give the hand-computed H = 4.8 and tie-corrected H = 13.0") {
    // 14 days starting at a dow-0 boundary: dow 0 -> 50 events, else
    // 10. Doubled ranks: v=10 (12 days) dr=13, v=50 (2 days) dr=27.
    // R2: spike group 54, each flat group 26. sd = 1458e6 + 6*338e6.
    // H = 3*3486/210 - 45 = 4.8; ties = 1716+6; C = 1 - 1722/2730;
    // H/C = 13.0 exactly.
    val d0 = 19_702L // 19702 % 7 == 0
    var id = 0L
    val rows = (0 until 14).flatMap { d =>
      val n = if (d % 7 == 0) 50 else 10
      (1 to n).map { i => id += 1
        (id, (d0 + d) * DayUs + i * 1_000_000L, id % 5, "view", 0.0) }
    }
    val r = queries.ExtQueries.queries("qz54_kruskal_wallis")(
      spark, plantEvents(rows)).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((14L, 7L, 3_486_000_000L, 1722L)), s"got $r")
    val h = 3.0 * 3_486_000_000L.toDouble / 1.0e6 / 210.0 - 3.0 * 15.0
    val c = 1.0 - 1722.0 / 2730.0
    assert(r.getDouble(4) == h && r.getDouble(5) == h / c, s"got $r")
    assert(math.abs(r.getDouble(5) - 13.0) < 1e-9)
  }

  test("qz55 bootstrap: a constant-length corpus collapses the band to " +
    "the point estimate; a mixed corpus spreads it") {
    val const = (1L to 60L).map(i => (i, "x" * 40, "s"))
    val r1 = queries.ExtQueries.queries("qz55_poisson_bootstrap")(
      spark, plantDocs(const)).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) ==
      ((60L, 40_000L, 64L)), s"got $r1")
    assert(r1.getLong(3) == 40_000L && r1.getLong(4) == 40_000L,
      s"constant corpus must collapse: $r1")
    val mixed = (1L to 60L).map(i =>
      (i, "x" * (if (i % 2 == 0) 10 else 90).toInt, "s"))
    val r2 = queries.ExtQueries.queries("qz55_poisson_bootstrap")(
      spark, plantDocs(mixed)).collect()(0)
    assert(r2.getLong(3) < r2.getLong(1) && r2.getLong(1) < r2.getLong(4),
      s"mixed corpus band must straddle the point estimate: $r2")
  }

  test("qm17 ssim: identical consecutive frames score exactly 1.0; " +
    "differing frames score below") {
    // 128-char docs -> two 16-byte frames at byte offsets 0 and 64.
    val same = "ABCDEFGHIJKLMNOP" + "q" * 48
    val docs = Seq(
      (1L, same + same, "s"),                                // identical
      (2L, same + "zzzzzzzzzzzzzzzz" + "q" * 48, "s"))       // different
    val out = queries.ExtQueries.queries("qm17_frame_ssim")(
      spark, plantDocs(docs)).collect()
    assert(out.length == 2)
    val byDoc = out.map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(byDoc(1L) == 1.0, s"identical frames: ${byDoc(1L)}")
    assert(byDoc(2L) < 1.0 && byDoc(2L) > 0.0, s"got ${byDoc(2L)}")
  }

  test("qm18 zcr: an all-ASCII frame never crosses; a [97,195,169] " +
    "repeating frame crosses exactly 10 of its 15 transitions") {
    val docs = Seq(
      (1L, "x" * 300, "s"),      // 4 frames, all samples < 128
      (2L, "aé" * 40, "s")) // 120 UTF-8 bytes -> 1 frame
    val out = queries.ExtQueries.queries("qm18_zero_crossings")(
      spark, plantDocs(docs)).collect()
    val m = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(1L) == ((4L, 64L, 0L, 0L)), s"ascii: ${m(1L)}")
    assert(m(2L) == ((1L, 16L, 10L, 666L)), s"repeating: ${m(2L)}")
  }

  test("qx82 rake: degree/frequency scoring ranks the longer phrase " +
    "above its frequent two-word prefix — hand-computed milli scores") {
    // "deep learning of the deep learning model": runs are
    // [deep learning] and [deep learning model]. freq(deep)=2 deg=5,
    // freq(learning)=2 deg=5, freq(model)=1 deg=3 -> ratios 2500/2500/
    // 3000 milli; scores 5000 and 8000.
    val docs = Seq((1L, "deep learning of the deep learning model", "s"))
    val out = queries.ExtQueries.queries("qx82_rake_keywords")(
      spark, plantDocs(docs)).collect()
    val m = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m == Map(
      "deep learning model" -> ((3L, 1L, 8000L)),
      "deep learning" -> ((2L, 1L, 5000L))), out.mkString("; "))
  }

  test("qx83 edit-distance verify: a one-token corruption inside the " +
    "100-char window surfaces as a banded near-dup pair; an unrelated " +
    "doc never pairs") {
    val toks = (0 until 30).map(i => f"tok$i%02d")
    val t1 = toks.mkString(" ")
    val t2 = toks.updated(10, "tokXX").mkString(" ")
    val t3 = (0 until 30).map(i => f"zzz$i%02d").mkString(" ")
    val out = queries.ExtQueries.queries("qx83_editdist_verify")(
      spark, plantDocs(Seq((1L, t1, "s"), (2L, t2, "s"), (3L, t3, "s"))))
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      out.mkString("; "))
    val r = out(0)
    assert(r.getLong(2) == 2L, s"edit_dist: $r")   // "10" -> "XX"
    assert(r.getLong(3) == 980L && r.getBoolean(4), s"sim: $r")
  }

  private def plantEmbeddings(rows: Seq[(Long, Seq[Float], Int)])
      : String = {
    val dir = tempDir("r11emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("qe31 mmr: an exact duplicate of the top pick is deferred " +
    "behind a diverse equally-relevant candidate") {
    // q = e1. A(10) and B(11) are near-duplicates at cos(q,.) ~ 0.707;
    // C(12) is equally relevant but orthogonal to A; D(13) irrelevant.
    // Plain top-k would order A,B,...; MMR must pick A, C, B, D.
    val dir = plantEmbeddings(Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (10L, Seq(0.70f, 0.70f, 0f, 0f), 0),
      (11L, Seq(0.70f, 0.72f, 0f, 0f), 0),   // near-dup of A, lower cos(q,.)
      (12L, Seq(0.70f, 0f, 0.70f, 0f), 0),
      (13L, Seq(0f, 0f, 0f, 1f), 0)))
    val out = queries.ExtQueries.queries("qe31_mmr_rerank")(spark, dir)
      .collect()
    val picks = out.filter(_.getLong(0) == 0L).sortBy(_.getLong(1))
      .map(_.getLong(2)).toSeq
    assert(picks == Seq(10L, 12L, 11L, 13L), s"got $picks")
  }

  test("qe32 triplet margins: clean label clusters yield large " +
    "positive margins and zero violations; a mislabeled vector " +
    "violates") {
    val a = Seq(1f, 0f, 0f, 0f); val b = Seq(0f, 1f, 0f, 0f)
    def jig(v: Seq[Float], i: Int) = v.updated(3, 0.01f * i)
    val clean = plantEmbeddings(Seq(
      (0L, jig(a, 1), 1), (1L, jig(a, 2), 1), (2L, jig(a, 3), 1),
      (3L, jig(b, 1), 2), (4L, jig(b, 2), 2), (5L, jig(b, 3), 2)))
    val out = queries.ExtQueries.queries("qe32_triplet_margins")(
      spark, clean).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 3L, s"n_anchors: $r")
      assert(r.getLong(3) > 200000L, s"mean margin: $r")
      assert(r.getLong(4) == 0L, s"violations: $r")
    }
    // vector 6 sits in cluster A's position but carries label 2
    val dirty = plantEmbeddings(Seq(
      (0L, jig(a, 1), 1), (1L, jig(a, 2), 1), (2L, jig(a, 3), 1),
      (3L, jig(b, 1), 2), (4L, jig(b, 2), 2), (5L, jig(b, 3), 2),
      (6L, jig(a, 4), 2)))
    val d = queries.ExtQueries.queries("qe32_triplet_margins")(
      spark, dirty).collect()
    val viol = d.map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(viol(2) > 0L, s"the mislabeled vector must violate: ${d.toSeq}")
  }

  test("qs22 update mode: the per-key max-n extraction equals the batch " +
    "aggregate on a multi-chunk replay") {
    val t0 = 19_700L * DayUs
    val rows = (1 to 9).map { i =>
      (i.toLong, t0 + i * 60_000_000L, i.toLong % 3,
        if (i % 2 == 0) "view" else "click", i.toDouble) }
    val out = queries.CoreQueries.queries("qs22_update_mode")(
      spark, plantEvents(rows)).collect()
    // views: i = 2,4,6,8 -> n=4, v = 2000+4000+6000+8000; clicks: 5 odd
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("click", 5L, 25_000L), ("view", 4L, 20_000L)),
      out.mkString("; "))
  }

  test("q54 unpivot: the stack generator melts each aggregate row into " +
    "exactly one row per metric") {
    val t0 = 19_700L * DayUs
    val rows = Seq(
      (1L, t0, 1L, "view", 1.5), (2L, t0 + 1_000_000L, 1L, "view", 2.5),
      (3L, t0 + 2_000_000L, 2L, "click", 4.0))
    val out = queries.CoreQueries.queries("q54_unpivot")(
      spark, plantEvents(rows)).collect()
    val m = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(
      ("click", "n") -> 1L, ("click", "v_milli") -> 4000L,
      ("click", "t0_us") -> (t0 + 2_000_000L),
      ("view", "n") -> 2L, ("view", "v_milli") -> 4000L,
      ("view", "t0_us") -> t0), out.mkString("; "))
  }

  test("qe33 top-pc: a corpus varying along one axis ranks its extreme " +
    "members first, ties broken by vec_id, |proj| = |a - mean|") {
    val dir = plantEmbeddings((1 to 10).map(i =>
      (i.toLong, Seq(i.toFloat, 0f, 0f, 0f), 0)))
    val out = queries.ExtQueries.queries("qe33_top_pc")(spark, dir)
      .collect()
    assert(out.map(_.getLong(1)).toSeq ==
      Seq(1L, 10L, 2L, 9L, 3L, 8L, 4L, 7L, 5L, 6L),
      out.mkString("; "))
    assert(math.abs(math.abs(out(0).getDouble(3)) - 4.5) < 0.01,
      s"top |proj|: ${out(0)}")
  }

  test("qe34 abtt: removing the dominant axis drops the mean |cos| of " +
    "an anisotropic corpus") {
    // e1 carries almost all the VARIANCE (the centered cosines crowd
    // ±1); the residual noise directions disagree, so removing the
    // top axis must drop the mean |cos|.
    val dir = plantEmbeddings((0 until 20).map { i =>
      (i.toLong, Seq(i.toFloat,
        ((i * 37) % 11 - 5).toFloat * 0.05f,
        ((i * 53) % 13 - 6).toFloat * 0.04f,
        ((i * 29) % 7 - 3).toFloat * 0.05f), 0) })
    val r = queries.ExtQueries.queries("qe34_abtt_isotropy")(spark, dir)
      .collect()(0)
    assert(r.getLong(0) == 190L, s"n_pairs: $r")
    assert(r.getLong(2) < r.getLong(1),
      s"after must drop below before: $r")
  }

  test("qz56 forward fill: a silent calendar day appears as a gap row " +
    "carrying the last known value") {
    val t0 = 19_700L * DayUs
    val rows = Seq(
      (1L, t0, 1L, "purchase", 1.0),
      (2L, t0 + 2 * DayUs, 1L, "purchase", 2.0),
      (3L, t0 + DayUs, 1L, "view", 9.9)) // wrong type: not in the series
    val out = queries.ExtQueries.queries("qz56_forward_fill")(
      spark, plantEvents(rows)).collect()
    assert(out.map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2),
      r.getBoolean(3))).toSeq == Seq(
      (19_700L, 1000L, 1000L, false),
      (19_701L, -1L, 1000L, true),
      (19_702L, 2000L, 2000L, false)), out.mkString("; "))
  }

  test("qz57 growth accounting: new vs retained vs resurrected split " +
    "with the cumulative-of-new identity") {
    val t0 = 19_700L * DayUs
    val rows = Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + DayUs, 1L, "view", 0.0),
      (3L, t0 + 20 * DayUs, 1L, "view", 0.0),
      (4L, t0, 2L, "view", 0.0))
    val out = queries.ExtQueries.queries("qz57_growth_accounting")(
      spark, plantEvents(rows)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq == Seq(
      (19_700L, 2L, 2L, 0L, 0L, 2L),
      (19_701L, 1L, 0L, 1L, 0L, 2L),
      (19_720L, 1L, 0L, 0L, 1L, 2L)), out.mkString("; "))
  }

  test("qe35 knn accuracy: clean clusters classify perfectly; a " +
    "mislabeled vector is the only miss in its label cohort") {
    def a(i: Int) = Seq(1f, 0.01f * i, 0f, 0f)
    def b(i: Int) = Seq(0f, 0.01f * i, 1f, 0f)
    val dir = plantEmbeddings(
      (0 until 5).map(i => (i.toLong, a(i), 1)) ++
      (5 until 10).map(i => (i.toLong, b(i), 2)) ++
      Seq((10L, a(9), 2))) // sits in cluster A, carries label 2
    val out = queries.ExtQueries.queries("qe35_knn_accuracy")(spark, dir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1) == ((5L, 5L, 1000L)), s"label 1: ${out(1)}")
    assert(out(2) == ((6L, 5L, 833L)), s"label 2: ${out(2)}")
  }

  test("qz58 cohort ltv: cohorts come from FIRST activity of any type " +
    "and value accumulates inside the cohort partition") {
    val t0 = 19_700L * DayUs
    val rows = Seq(
      (1L, t0, 1L, "view", 0.0),                      // u1 cohort D
      (2L, t0 + 2 * DayUs, 1L, "purchase", 1.0),      // age 2
      (3L, t0 + 3 * DayUs, 1L, "purchase", 2.0),      // age 3
      (4L, t0 + DayUs, 2L, "purchase", 5.0))          // u2 cohort D+1
    val out = queries.ExtQueries.queries("qz58_cohort_ltv")(
      spark, plantEvents(rows)).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == Seq(
      (19_700L, 2L, 1L, 1000L, 1000L),
      (19_700L, 3L, 1L, 2000L, 3000L),
      (19_701L, 0L, 1L, 5000L, 5000L)), out.mkString("; "))
  }

  test("qx84 kwic: the dominant token's +-2 company counts by side") {
    val docs = Seq(
      (1L, "x alpha y", "s"),
      (2L, "z alpha y w", "s"))
    val out = queries.ExtQueries.queries("qx84_kwic_collocates")(
      spark, plantDocs(docs)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      ("alpha", "R", "y", 2L), ("alpha", "L", "x", 1L),
      ("alpha", "L", "z", 1L), ("alpha", "R", "w", 1L)),
      s"got $out")
  }

  test("qp8 timeseries pipeline: a single spike day flags itself and " +
    "exactly the windows it contaminates; clean-window days stay calm") {
    val d0 = 19_700L
    var id = 0L
    val rows = (0 until 15).flatMap { d =>
      val v = if (d == 7) 500.0 else 100.0
      id += 1
      Seq((id, (d0 + d) * DayUs + 1_000_000L, 1L, "purchase", v))
    }
    val out = queries.ExtQueries.queries("qp8_timeseries_pipeline")(
      spark, plantEvents(rows)).collect()
    // residuals: 0 at the two clean-window edges, -57142 on the six
    // contaminated-window neighbors, +342858 on the spike; MAD (lower
    // median of |resid|) = 57142, so 2|r| > 5*MAD flags ONLY the spike
    val anom = out.filter(_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(anom == Set(d0 + 7), s"got $anom")
    val spike = out.find(_.getLong(0) == d0 + 7).get
    assert(spike.getLong(3) == 500_000L - 157_142L, s"spike: $spike")
  }

  test("qm19 freeze runs: three bit-identical frames flag frozen; " +
    "distinct frames do not") {
    val block = "FROZENFRAMEBYTES" // 16 chars
    val frozenDoc = (block + "q" * 48) * 3
    val liveDoc = (0 until 3).map(i =>
      s"LIVEFRAME${i}BYTES$i" + "q" * 48).mkString
    val out = queries.ExtQueries.queries("qm19_freeze_runs")(
      spark, plantDocs(Seq((1L, frozenDoc, "s"), (2L, liveDoc, "s"))))
      .collect()
    val m = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(m(1L) == ((3L, 1L, 3L, true)), s"frozen: ${m(1L)}")
    assert(m(2L) == ((3L, 3L, 1L, false)), s"live: ${m(2L)}")
  }
}
