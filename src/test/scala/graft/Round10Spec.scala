package graft

import org.apache.spark.sql.functions._

/** Round-10 specs: skewed-JOIN handling — both the automatic path (AQE's
  * runtime skew-join split actually ENGAGES on a planted hot key, not
  * just "is enabled") and the explicit salted-join helper (equality with
  * the plain join, salt-widened shuffle keys). qz19 audits hot keys;
  * these prove a skewed join SURVIVES one. */
class Round10Spec extends SparkTestBase {
  import spark.implicits._

  /** Scoped conf override (read-set-restore, the StreamingReplay
    * discipline) — the skew thresholds are session-level. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => // flatMap(Option(_)): a defined
      // key with a null default (adaptive.autoBroadcastJoinThreshold)
      // reads as Some(null), which the restore must treat as unset
      k -> scala.util.Try(spark.conf.get(k)).toOption.flatMap(Option(_)) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // planted hot key: 95% of fact rows share key 1, the rest spread.
  // Built on a DISTRIBUTED range (not a driver-local Seq): AQE's skew
  // split subdivides a reduce partition at MAP-output granularity, so
  // the shuffle must come from many mappers for a split to exist at all
  private def skewedFact(n: Int) =
    spark.range(n).select(
      when(col("id") % 20 =!= 0, 1L)
        .otherwise(col("id") % 997).as("k"),
      col("id").as("row_id"))

  test("AQE skew-join split ENGAGES on a planted hot key: the final " +
    "adaptive plan reads the hot partition as multiple skew-split " +
    "sub-partitions (not one straggler task), and the result is exact") {
    val n = 60000
    val fact = skewedFact(n)
    // dim: ONE row per key — the realistic fact ⋈ dim shape (a skewed
    // self-join would be quadratic BY DATA on the hot key and measure
    // the pair explosion, not the partitioning). An INDEPENDENT frame,
    // not a rollup of fact: OptimizeSkewedJoin pattern-matches
    // SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) — an aggregate
    // between the sort and the shuffle opts the join out of the split
    val dim = spark.range(997).select(col("id").as("k"),
      (col("id") * 10L).as("nk"))
    withConf(
      // force the sort-merge path (a broadcast would hide the skew —
      // which is the OTHER valid answer, pinned by the q21/q39 specs)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // shrink the skew thresholds so the fixture's hot partition
      // qualifies at test size (production keeps the 256 MB default;
      // the MECHANISM is what's under test)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0") {
      // a GLOBAL rollup on top (no per-key distribution requirement, so
      // AQE is free to skew-split the join), executed so the adaptive
      // plan is FINAL — asserting on an unexecuted AdaptiveSparkPlan
      // would pin isFinalPlan=false scaffolding, not the runtime split
      // sum(row_id) keeps the fact's payload column alive through
      // column pruning — a single-constant-column hot partition would
      // compress below any realistic skew threshold
      val agg = fact.join(dim, "k")
        .agg(count(lit(1)).as("n_rows"), sum("nk").as("chk"),
          sum("row_id").as("chk2"))
      val row = agg.collect()(0)
      // every fact row matches exactly its key's dim row; the nk
      // checksum (Σ over fact rows of 10·key) recomputed independently
      val keys = (0 until n)
        .map(i => if (i % 20 != 0) 1L else (i % 997).toLong)
      assert(row.getLong(0) == n.toLong, s"join cardinality: $row")
      assert(row.getLong(1) == keys.map(_ * 10L).sum,
        s"nk checksum: $row")
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE skew split must engage on the hot key:\n$plan")
    }
  }

  test("saltedJoin == plain join row-for-row on the skewed fixture " +
    "(inner AND left with unmatched fact keys), and the physical join " +
    "keys on (key, salt)") {
    val fact = skewedFact(5000)
    val dim = fact.groupBy("k").agg(count(lit(1)).as("nk"))
      .where(col("k") =!= 17L) // leave some fact keys unmatched
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "row_id", "nk").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    Seq("inner", "left").foreach { jt =>
      val salted = ext.Skew.saltedJoin(fact, dim, key = "k",
        uniqueCol = "row_id", salts = 8, joinType = jt)
      val plain = fact.join(dim, Seq("k"), jt)
      assert(canon(salted) == canon(plain), s"joinType=$jt")
    }
    val plan = ext.Skew.saltedJoin(fact, dim, "k", "row_id", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"join must key on the salt:\n$plan")
  }

  test("saltedJoin really spreads the hot key: at 8 salts the hot key's " +
    "fact rows land in 8 distinct (key, salt) groups") {
    val fact = skewedFact(4000)
    val groups = fact
      .withColumn("s", pmod(xxhash64(col("row_id")), lit(8L)))
      .where(col("k") === 1L)
      .select("s").distinct().count()
    assert(groups == 8L, s"expected 8 salt groups, got $groups")
  }

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r10ev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String, String, String)])
      : String = {
    val dir = tempDir("r10doc").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("qz27 attribution: the LAST non-purchase event strictly before " +
    "each purchase gets the credit (equal-ts ties break by event_id), " +
    "and a purchase with no upstream touch lands in 'none'") {
    val t0 = 1_700_000_000_000_000L
    val s = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + s, 1L, "click", 0.0),
      (3L, t0 + 2 * s, 1L, "purchase", 1.25),
      (4L, t0 + 3 * s, 1L, "purchase", 2.0), // still credits the click
      (5L, t0, 2L, "purchase", 3.0), // no touch → none
      // user 3: view and click share a timestamp; click has the larger
      // event_id so it is LAST in (ts, event_id) order → it wins
      (6L, t0, 3L, "view", 0.0),
      (7L, t0, 3L, "click", 0.0),
      (8L, t0 + s, 3L, "purchase", 0.5)))
    val out = queries.ExtQueries.queries("qz27_attribution")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      "click" -> ((3L, 3750L)), // 1.25 + 2.0 + 0.5 in milli
      "none" -> ((1L, 3000L))), s"got $out")
  }

  test("qz28 event paths: sliding 3-windows follow strict per-user " +
    "(ts, event_id) order and never cross users") {
    val t0 = 1_700_000_000_000_000L
    val s = 1_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "a", 0.0), (2L, t0 + s, 1L, "b", 0.0),
      (3L, t0 + 2 * s, 1L, "c", 0.0), (4L, t0 + 3 * s, 1L, "d", 0.0),
      (5L, t0, 2L, "a", 0.0), (6L, t0 + s, 2L, "b", 0.0),
      (7L, t0 + 2 * s, 2L, "c", 0.0)))
    val out = queries.ExtQueries.queries("qz28_event_paths")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a>b>c" -> 2L, "b>c>d" -> 1L), s"got $out")
  }

  test("qx72 HLL: exact distinct rides along correctly and the raw " +
    "256-register estimate lands within the sketch's error class on a " +
    "500-term corpus") {
    val words = (0 until 500).map(i => s"w$i")
    val dir = plantDocs(Seq(
      (1L, words.take(250).mkString(" "), "en", "s1"),
      (2L, words.drop(250).mkString(" "), "en", "s1"),
      (3L, words.take(250).mkString(" "), "en", "s1"))) // dup doc: no new terms
    val r = queries.ExtQueries.queries("qx72_hll_distinct")(spark, dir)
      .collect()
    assert(r.length == 1)
    val (nHit, est, exact) =
      (r(0).getLong(1), r(0).getDouble(2), r(0).getLong(3))
    assert(exact == 500L, s"exact=$exact")
    assert(nHit > 0 && nHit <= 256, s"buckets=$nHit")
    // m=256 → ~6.5% standard error; 30% is > 4σ on 500 distinct
    assert(est > 350.0 && est < 650.0, s"est=$est")
  }

  test("qx73 spell variants: planted OCR-style corruptions (substitution, " +
    "deletion, insertion) are mined as ed-1 pairs; an ed-2 word is not; " +
    "hapax and short tokens stay out") {
    val base = "pipeline " * 3 + "partition " * 3 + "shuffle " * 3
    val dir = plantDocs(Seq(
      (1L, base + "pipe1ine pipe1ine", "en", "s"), // substitution (x2: tf gate)
      (2L, base + "partiton partiton", "en", "s"), // deletion
      (3L, base + "shufffle shufffle", "en", "s"), // insertion
      (4L, base + "pipXXine pipXXine", "en", "s"), // ed-2: excluded
      (5L, base + "pipelime", "en", "s"), // hapax: excluded by tf >= 2
      (6L, base + "abc abc", "en", "s"))) // len 3: excluded
    val out = queries.ExtQueries.queries("qx73_spell_variants")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("pipe1ine", "pipeline"),
      ("partition", "partiton"),
      ("shufffle", "shuffle")), s"got $out")
  }

  test("qz30 bounce rate: an exact-gap event MERGES (no bounce), one " +
    "tick past the gap opens a bounce session; singleton users bounce") {
    val t0 = 1_700_000_000_000_000L
    val gap = 1_800_000_000L // 30 min in µs
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + gap, 1L, "view", 0.0), // exact gap: merges → 1 session, n=2
      (3L, t0, 2L, "view", 0.0),
      (4L, t0 + gap + 1_000_000L, 2L, "view", 0.0), // past gap: 2 bounces
      (5L, t0, 3L, "view", 0.0))) // singleton: bounce
    val r = queries.ExtQueries.queries("qz30_bounce_rate")(spark, dir)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((4L, 3L)),
      s"got (${r.getLong(0)}, ${r.getLong(1)})")
    assert(r.getDouble(2) == 0.75)
  }

  test("qp5 media pipeline: a duplicate blob is flagged (keeper " +
    "survives), an all-identical-frame asset is static, and a varied " +
    "unique asset is kept") {
    val varied = (0 until 4).map(i => (if (i % 2 == 0) "A" else "z") * 64)
      .mkString
    val dir = plantDocs(Seq(
      (1L, varied, "en", "s"), // keeper of the dup pair, varied → kept
      (2L, varied, "en", "s"), // dup blob
      (3L, "A" * 256, "en", "s"))) // static: every frame identical
    val out = queries.ExtQueries.queries("qp5_media_pipeline")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    assert(out(1L) == ((false, false, true)), s"got ${out(1L)}")
    assert(out(2L) == ((true, false, false)), s"got ${out(2L)}")
    assert(out(3L) == ((false, true, false)), s"got ${out(3L)}")
  }

  test("qx75 gopher gate: six planted docs — one passes all rules, the " +
    "other five each fail exactly ONE rule, and the per-rule failure " +
    "attribution counts them independently") {
    val pass = "the and " + Seq.fill(58)("cat").mkString(" ")
    val failLen = "the and cat dog cat dog cat dog cat dog"
    val failWlen = "the and " + Seq.fill(48)("abcdefghijkl").mkString(" ")
    val failAlpha = ("the and " + Seq.fill(28)("cats").mkString(" ") +
      " " + Seq.fill(20)("123").mkString(" "))
    val failStop = Seq.fill(50)("cat").mkString(" ")
    val failSym = "the and " + Seq.fill(47)("cat").mkString(" ") +
      " ######"
    val dir = plantDocs(Seq(
      (1L, pass, "en", "s"), (2L, failLen, "en", "s"),
      (3L, failWlen, "en", "s"), (4L, failAlpha, "en", "s"),
      (5L, failStop, "en", "s"), (6L, failSym, "en", "s")))
    val r = queries.ExtQueries.queries("qx75_gopher_gate")(spark, dir)
      .collect()(0)
    // (n_docs, n_pass, fail_len, fail_wlen, fail_alpha, fail_stop, fail_sym)
    assert((1 to 7).map(i => r.getLong(i)) == Seq(6L, 1L, 1L, 1L, 1L, 1L, 1L),
      s"got ${(1 to 7).map(r.getLong)}")
  }

  test("qm10 loudness: a constant-'A' asset yields exact per-channel " +
    "sums/peak/rms with zero hot samples; a multibyte asset's 195/191 " +
    "byte pattern counts every sample as hot") {
    val dir = plantDocs(Seq(
      (1L, "A" * 64, "en", "s"),      // 1 frame, every byte 65
      (2L, "ÿ" * 32, "en", "s"))) // UTF-8 C3 BF ×32: 195/191 alternating
    val out = queries.ExtQueries.queries("qm10_audio_loudness")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6))).toMap
    assert(out.size == 6)
    for (c <- 0L to 2L) {
      assert(out((1L, c)) == ((4L, 16900L, 65L, 0L, 65.0)),
        s"doc1 ch$c: ${out((1L, c))}")
      // positions 5+c,8+c,11+c,14+c of the 195/191 alternation: two of
      // each whatever the channel → ssq 2·(195²+191²), peak 195, all hot
      assert(out((2L, c)) ==
        ((4L, 149012L, 195L, 4L, math.sqrt(149012.0 / 4.0))),
        s"doc2 ch$c: ${out((2L, c))}")
    }
  }

  test("qz31 gini: three planted purchasers (1000/1000/2000 milli) give " +
    "gini 1/6 and a 0.5 top-decile share; non-purchase events are " +
    "ignored") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "purchase", 1.0),
      (2L, t0, 2L, "purchase", 1.0),
      (3L, t0, 3L, "purchase", 2.0),
      (4L, t0, 3L, "view", 99.0))) // must not count
    val r = queries.ExtQueries.queries("qz31_value_gini")(spark, dir)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1)) == ((3L, 4000L)))
    assert(math.abs(r.getDouble(2) - 1.0 / 6.0) < 1e-12, s"gini ${r.getDouble(2)}")
    assert(r.getDouble(3) == 0.5, s"top share ${r.getDouble(3)}")
  }

  test("qz32 stationary: the 5-step integer power iteration matches an " +
    "independent integer fold over the planted 2-type chain, and the " +
    "div-truncated mass loss is bounded by steps × edges nano") {
    val t0 = 1_700_000_000_000_000L
    val s = 1_000_000L
    // user 1: view view click view → view→view, view→click, click→view
    // user 2: view view → view→view
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0), (2L, t0 + s, 1L, "view", 0.0),
      (3L, t0 + 2 * s, 1L, "click", 0.0), (4L, t0 + 3 * s, 1L, "view", 0.0),
      (5L, t0, 2L, "view", 0.0), (6L, t0 + s, 2L, "view", 0.0)))
    val out = queries.ExtQueries.queries("qz32_markov_stationary")(
      spark, dir).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent fold: P(view→view)=2/3, P(view→click)=1/3, P(click→view)=1
    val G = 1000000000L
    val p = Map(("view", "view") -> (2L * G / 3L),
      ("view", "click") -> (G / 3L), ("click", "view") -> G)
    var pi = Map("view" -> G / 2L, "click" -> G / 2L)
    for (_ <- 1 to 5) {
      pi = p.groupBy(_._1._2).map { case (to, edges) =>
        to -> edges.map { case ((from, _), pn) => pi(from) * pn / G }.sum
      }
    }
    assert(out == pi, s"got $out expected $pi")
    // every per-edge div truncates < 1 nano; 5 steps × 3 edges bounds it
    assert(G - out.values.sum >= 0L && G - out.values.sum <= 15L,
      s"mass ${out.values.sum}")
  }

  test("qx76 winnow pairs: two docs sharing a long passage surface as " +
    "a pair with >= 2 shared fingerprints; an unrelated doc pairs with " +
    "neither") {
    val common = (1 to 24).map(i => s"w$i").mkString(" ")
    val dir = plantDocs(Seq(
      (1L, common + " alpha beta gamma delta", "en", "s"),
      (2L, "prefix words here " + common, "en", "s"),
      (3L, (1 to 30).map(i => s"z$i").mkString(" "), "en", "s")))
    val out = queries.ExtQueries.queries("qx76_winnow_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) >= 2L, s"got $out")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L), s"got $out")
  }

  test("qz33 changepoint: daily counts 10/10/10/40 put the CUSUM " +
    "argmax at day 3 with exact scaled statistic and segment means") {
    val t0 = 1_700_000_000_000_000L
    val day = 86_400_000_000L
    var id = 0L
    val rows = Seq(0, 1, 2, 3).flatMap { d =>
      val n = if (d == 3) 40 else 10
      (1 to n).map { i => id += 1
        (id, t0 + d * day + i * 1_000_000L, id % 7, "view", 0.0) }
    }
    val r = queries.ExtQueries.queries("qz33_changepoint")(
      spark, plantEvents(rows)).collect()(0)
    val day0 = (t0 / day) // epoch days of t0 (t0 is µs)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((day0 + 2L, 4L, -90L)), s"got $r")
    assert(r.getDouble(3) == 10.0 && r.getDouble(4) == 40.0, s"got $r")
  }

  test("qp6 funnel pipeline: four planted users land at stages 0-3 " +
    "with exact session/event/value rollups (a purchase without the " +
    "view-click chain stays stage 0 but its value still counts)") {
    val t0 = 1_700_000_000_000_000L
    val m = 60_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0, 2L, "view", 0.0), (3L, t0 + m, 2L, "click", 0.0),
      (4L, t0, 3L, "view", 0.0), (5L, t0 + m, 3L, "click", 0.0),
      (6L, t0 + 2 * m, 3L, "purchase", 2.5),
      (7L, t0, 4L, "purchase", 1.0)))
    val out = queries.ExtQueries.queries("qp6_funnel_pipeline")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      0L -> ((1L, 1L, 1L, 1000L)), 1L -> ((1L, 1L, 1L, 0L)),
      2L -> ((1L, 1L, 2L, 0L)), 3L -> ((1L, 1L, 3L, 2500L))),
      s"got $out")
  }

  test("qx77 13-gram decontam: a corpus doc quoting a 13-token " +
    "benchmark span is contaminated with exactly one hit; a clean doc " +
    "and a sub-13-token doc are not") {
    val bench = (1 to 20).map(i => s"w$i").mkString(" ") // doc 97 (fence)
    val quoting = ((1 to 5).map(i => s"x$i") ++
      (3 to 15).map(i => s"w$i") ++ (1 to 3).map(i => s"y$i")).mkString(" ")
    val clean = (1 to 25).map(i => s"q$i").mkString(" ")
    val dir = plantDocs(Seq((97L, bench, "en", "s"),
      (1L, quoting, "en", "s"), (2L, clean, "en", "s"),
      (3L, "too short for grams", "en", "s")))
    val out = queries.ExtQueries.queries("qx77_ngram_decontam")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((9L, 1L, true)), s"got ${out(1L)}")
    assert(out(2L) == ((13L, 0L, false)), s"got ${out(2L)}")
    assert(out(3L) == ((0L, 0L, false)), s"got ${out(3L)}")
  }

  test("qm11 phash: two byte-DIFFERENT assets with the same low/high " +
    "luminance shape share both aHash signatures and pair up; a " +
    "constant asset (signature 0) pairs with neither") {
    val d1 = "a" * 8 + "z" * 8 + "f" * 48 + "z" * 8 + "a" * 8 + "f" * 48
    val d2 = "c" * 8 + "x" * 8 + "f" * 48 + "x" * 8 + "c" * 8 + "f" * 48
    val dir = plantDocs(Seq((1L, d1, "en", "s"), (2L, d2, "en", "s"),
      (3L, "m" * 128, "en", "s")))
    val out = queries.ExtQueries.queries("qm11_phash_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 2L)), s"got ${out.toSeq}")
  }

  test("qz34 stickiness: returning users are those also active the " +
    "immediately previous week; a gap week resets the count to zero") {
    val wk = 7L * 86_400_000_000L
    val t0 = 2900L * wk // aligned to an epoch-week boundary
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0), (2L, t0, 2L, "view", 0.0),
      (3L, t0 + wk, 2L, "view", 0.0), (4L, t0 + wk, 3L, "view", 0.0),
      (5L, t0 + 3 * wk, 2L, "view", 0.0)))
    val out = queries.ExtQueries.queries("qz34_stickiness")(spark, dir)
      .collect().map(r => r.getLong(0) - 2900L ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(0L -> ((2L, 0L, 0.0)), 1L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 0L, 0.0))), s"got $out")
  }

  test("qe27 pq transfer: the two splits partition the corpus evenly, " +
    "errors are non-negative, and the in-sample-fitted codebook " +
    "reconstructs its own half better (fixture-pinned k-means property)") {
    val out = queries.ExtQueries.queries("qe27_pq_transfer")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("in_sample")._1 == 250L && out("out_of_sample")._1 == 250L)
    assert(out.values.forall(_._2 >= 0L))
    assert(out("in_sample")._3 < out("out_of_sample")._3,
      s"generalization gap inverted: $out")
  }

  test("qm12 thumbnail: within a constant 2-frame shot the tie breaks " +
    "to the EARLIEST frame; a diverse frame opens shot 2 and picks " +
    "itself") {
    // frames at byte offsets 0/64/128: m*16, m*16 (delta 0, same shot),
    // ABAB... (delta 8*(44+43)=696 >= 520 → new shot, ndist 2)
    val text = "m" * 16 + "f" * 48 + "m" * 16 + "f" * 48 +
      "AB" * 8 + "f" * 48
    val dir = plantDocs(Seq((1L, text, "en", "s")))
    val out = queries.ExtQueries.queries("qm12_shot_thumbnail")(spark, dir)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(1L -> ((2L, 0L, 1L)), 2L -> ((1L, 2L, 2L))),
      s"got $out")
  }

  test("qz35 backtest: the final week scores against same-dow history " +
    "means — a planted day-1 spike doubles day-8's prediction (exact " +
    "milli error), every other final day predicts its own history") {
    val dayUs = 86_400_000_000L
    val d0 = 20300L
    var id = 0L
    val rows = (0 to 14).flatMap { d =>
      val n = if (d == 1) 20 else 10
      (1 to n).map { i => id += 1
        (id, (d0 + d) * dayUs + i * 1_000_000L, id % 5, "view", 0.0) }
    }
    val out = queries.ExtQueries.queries("qz35_dow_backtest")(
      spark, plantEvents(rows)).collect()
      .map(r => r.getLong(0) - d0 ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == (8L to 14L).toSet, s"got ${out.keySet}")
    assert(out(8L) == ((10L, 20000L, 10000L)), s"day8 ${out(8L)}")
    for (d <- 9L to 14L)
      assert(out(d) == ((10L, 10000L, 0L)), s"day$d ${out(d)}")
  }

  test("qs16 foreachBatch upsert: a user spanning the first and last " +
    "replay chunks exercises the MERGE matched arm — count sums, " +
    "tmin/tmax keep the extremes across micro-batches") {
    val t0 = 1_700_000_000_000_000L
    val s = 1_000_000L
    // 6 events → chunks of 2 in global ts order: user 1 lands in chunk
    // 1 (insert) and chunk 3 (matched update); user 2 fills the middle
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + s, 2L, "view", 0.0),
      (3L, t0 + 2 * s, 2L, "view", 0.0),
      (4L, t0 + 3 * s, 2L, "view", 0.0),
      (5L, t0 + 4 * s, 1L, "view", 0.0),
      (6L, t0 + 5 * s, 1L, "view", 0.0)))
    val out = queries.CoreQueries.queries("qs16_stream_fb_upsert")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      1L -> ((3L, t0, t0 + 5 * s)),
      2L -> ((3L, t0 + s, t0 + 3 * s))), s"got $out")
  }

  test("qm9 shots: identical frames collapse to ONE shot; alternating " +
    "far-apart byte blocks open a new shot at every frame") {
    // frame i = bytes [64i, 64i+16); doc 1 constant → all frames equal;
    // doc 2 alternates 'A'*64 / 'z'*64 blocks → per-frame L1 = 16·57 =
    // 912 >= 520 → every frame breaks
    val dir = plantDocs(Seq(
      (1L, "A" * 256, "en", "s"), // 4 frames, identical
      (2L, (0 until 4).map(i => (if (i % 2 == 0) "A" else "z") * 64)
        .mkString, "en", "s"))) // 4 frames, all far apart
    val out = queries.ExtQueries.queries("qm9_shot_segments")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((1L, 4L, 4L)), s"got ${out(1L)}")
    assert(out(2L) == ((4L, 1L, 4L)), s"got ${out(2L)}")
  }

  test("qz36 rfm: 8 single-purchase users on consecutive days with " +
    "value = user id land 2-per-quartile on rec/mon, and the all-tied " +
    "freq block shares the TOP-rank score 4") {
    val t0 = 1_700_000_000_000_000L
    val dayUs = 86_400_000_000L
    // user u purchases once on day u-1 spending u.0 → rec = 8-u,
    // freq = 1 (all tied), mon = 1000·u
    val dir = plantEvents((1L to 8L).map(u =>
      (u, t0 + (u - 1) * dayUs, u, "purchase", u.toDouble)))
    val out = queries.ExtQueries.queries("qz36_rfm_segments")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // q = 1 + ((cum_le − 1)·4) div 8 → segments (4,4,1)(3,4,2)(2,4,3)
    // (1,4,4), two users each; every freq_q is 4 (one tie block, cum=8)
    assert(out.keySet == Set((4L, 4L, 1L), (3L, 4L, 2L), (2L, 4L, 3L),
      (1L, 4L, 4L)), s"got ${out.keySet}")
    assert(out.values.forall(_._1 == 2L))
    assert(out((1L, 4L, 4L)) == ((2L, 2L, 15000L)), // users 7+8: 7000+8000
      s"got ${out((1L, 4L, 4L))}")
  }

  test("qz37 zorder: a 4-day × 4-user grid z-ranks into 16 singleton " +
    "files in (day, user) lexicographic order (x dominates the Morton " +
    "key for y < 4), while the natural layout packs whole days") {
    val t0 = 1_700_006_400_000_000L // day 19676, 00:00 UTC
    val dayUs = 86_400_000_000L
    val rows = for (d <- 0L to 3L; u <- 0L to 3L)
      yield (d * 4 + u + 1, t0 + d * dayUs, u, "view", 0.0)
    val dir = plantEvents(rows)
    val out = queries.ExtQueries.queries("qz37_zorder_layout")(spark, dir)
      .collect()
    val zo = out.filter(_.getString(0) == "zorder")
    val nat = out.filter(_.getString(0) == "natural")
    // 16 distinct z values over 16 rows → one file each, area 1, and
    // file i holds exactly (day i div 4, ub i mod 4)
    assert(zo.length == 16 && zo.forall(r =>
      r.getLong(2) == 1L && r.getLong(7) == 1L))
    assert(zo.forall { r =>
      val f = r.getLong(1)
      r.getLong(3) == 19676L + f / 4 && r.getLong(5) == f % 4
    }, zo.map(_.toString).mkString(","))
    // natural: 4 day-blocks of 4 rows at files {0,4,8,12}, day span 0,
    // full user span 3 → area 4 (day-tight, bucket-blind)
    assert(nat.map(_.getLong(1)).sorted.toSeq == Seq(0L, 4L, 8L, 12L))
    assert(nat.forall(r => r.getLong(2) == 4L && r.getLong(7) == 4L))
  }

  test("qm13 entropy: a constant-'A' asset has zero entropy at EXACT " +
    "+0.0 bits (the −0.0 normalization), an alternating two-value " +
    "channel reads ln 2") {
    val dir = plantDocs(Seq(
      (1L, "A" * 256, "en", "s"),
      (2L, "Az" * 128, "en", "s")))
    val out = queries.ExtQueries.queries("qm13_channel_entropy")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out((1L, 0L)) == ((16L, 1L, 0.0)))
    assert(java.lang.Double.doubleToRawLongBits(out((1L, 0L))._3) == 0L,
      "entropy of a constant channel must be +0.0, not -0.0")
    val e = out((2L, 0L))
    assert(e._1 == 16L && e._2 == 2L &&
      math.abs(e._3 - math.log(2.0)) < 1e-8, s"got $e")
  }

  private def plantEmb(rows: Seq[(Long, Seq[Float])]): String = {
    val dir = tempDir("r10emb").toString
    rows.map { case (id, e) => (id, e, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("qp7 embedding pipeline: an exact copy drops at the EXACT stage, " +
    "a near-dup at the SEM stage, and a spread vector below tau " +
    "survives — with per-cell byte accounting") {
    def oneHot(d: Int) = Seq.tabulate(16)(i => if (i == d) 1f else 0f)
    val nearE0 = Seq.tabulate(16)(i =>
      if (i == 0) 0.99f else if (i == 15) 0.01f else 0f)
    val spread7 = Seq.tabulate(16)(i =>
      if (i >= 2 && i <= 8) 1f else 0f) // cos 1/√7 ≈ 0.378 < τ = 0.4
    val dir = plantEmb(
      (0 until 16).map(d => (d.toLong, oneHot(d))) ++
        Seq((16L, nearE0), (17L, oneHot(1)), (18L, spread7)))
    val out = queries.ExtQueries.queries("qp7_embedding_pipeline")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(0L) == ((2L, 0L, 1L, 1L, 64L)), s"cell0=${out(0L)}") // sem
    assert(out(1L) == ((2L, 1L, 0L, 1L, 64L)), s"cell1=${out(1L)}") // exact
    assert(out(2L) == ((2L, 0L, 0L, 2L, 0L)), s"cell2=${out(2L)}") // kept
    (3L to 15L).foreach(c => assert(out(c) == ((1L, 0L, 0L, 1L, 0L))))
  }

  test("qz41 bot regularity: a metronome user (10 exact 60s gaps) " +
    "flags with cv2 0, a bursty human and an under-support regular " +
    "user do not") {
    val t0 = 1_700_000_000_000_000L
    var eid = 0L
    def ev(u: Long, us: Long) = { eid += 1; (eid, us, u, "view", 0.0) }
    val bot = (0 to 10).map(i => ev(1L, t0 + i * 60_000_000L))
    val humanGaps = Seq(10L, 200L, 30L, 500L, 60L, 5L, 800L, 90L, 120L, 45L)
    val human = humanGaps.scanLeft(t0)((t, g) => t + g * 1_000_000L)
      .map(us => ev(2L, us))
    val sparse = (0 to 2).map(i => ev(3L, t0 + i * 60_000_000L))
    val dir = plantEvents(bot ++ human ++ sparse)
    val out = queries.ExtQueries.queries("qz41_bot_regularity")(spark, dir)
      .collect()
    assert(out.length == 1, out.mkString(","))
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3)) == ((1L, 10L, 60000L, 0L)), out(0).toString)
  }

  test("qz39 triangles: a 3-clique of identical docs + a detached " +
    "identical pair give exactly (5 nodes, 4 edges, 3 wedges, 1 " +
    "triangle, transitivity 1.0)") {
    val dir = plantDocs(Seq(
      (1L, "alpha beta gamma delta", "en", "s"),
      (2L, "alpha beta gamma delta", "en", "s"),
      (3L, "alpha beta gamma delta", "en", "s"),
      (4L, "omega psi chi phi", "en", "s"),
      (5L, "omega psi chi phi", "en", "s"),
      (6L, "lone wolf text here", "en", "s")))
    val r = queries.ExtQueries.queries("qz39_triangle_count")(spark, dir)
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4)) == ((5L, 4L, 3L, 1L, 1.0)), r.toString)
  }

  test("qz40 acf: planted daily counts 1,2,3,4 give exact hand-computed " +
    "lag-1/2/3 autocorrelations 0.25, -0.3, -0.45 and no rows for " +
    "pairless lags") {
    val dayUs = 86_400_000_000L
    var eid = 0L
    def burst(day: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, day * dayUs + i * 1_000_000L, 1L, "view", 0.0)
    }
    val dir = plantEvents(
      burst(19000L, 1) ++ burst(19001L, 2) ++ burst(19002L, 3) ++
        burst(19003L, 4))
    val out = queries.ExtQueries.queries("qz40_acf")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.toString)
    assert(out(1L) == ((3L, 0.25)))
    assert(out(2L) == ((2L, -0.3)))
    assert(out(3L) == ((1L, -0.45)))
  }

  test("q52 orc: the type-slice predicate is PUSHED into the ORC scan " +
    "(PushedFilters carries the Not(EqualTo) — not a post-scan filter " +
    "only)") {
    val df = queries.CoreQueries.queries("q52_orc_roundtrip")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("orc"), plan.take(2000))
    assert(plan.contains("Not(EqualTo(event_type,error))"),
      "expected the event_type filter in PushedFilters:\n" +
        plan.take(2000))
    assert(df.count() == 4)
  }

  test("qe28 knn graph: every vector contributes exactly min(3, " +
    "|cell|−1) directed edges, and per-cell reciprocal counts are even " +
    "(reciprocity is symmetric within a cell)") {
    val out = queries.ExtQueries.queries("qe28_knn_graph")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nv, ne, nr) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ne == nv * math.max(math.min(3L, nv - 1), 0L), r.toString)
      assert(nr <= ne && nr % 2 == 0, r.toString)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("qz38 anomaly days: a 4x Monday spike flags against its OWN dow " +
    "cohort (lower median 10, MAD 0), while a mild Tuesday wobble " +
    "stays inside 2.5 MADs (median 10, MAD 2)") {
    val dayUs = 86_400_000_000L
    var eid = 0L
    def burst(day: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, day * dayUs + i * 60_000_000L, i.toLong, "view", 0.0)
    }
    val dir = plantEvents(
      burst(19677L, 10) ++ burst(19684L, 10) ++ burst(19691L, 40) ++
        burst(19678L, 8) ++ burst(19685L, 10) ++ burst(19692L, 12))
    val out = queries.ExtQueries.queries("qz38_anomaly_days")(spark, dir)
      .collect()
    assert(out.length == 1, out.mkString(","))
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2),
      out(0).getLong(3), out(0).getLong(4), out(0).getLong(5)) ==
      ((19691L, 0L, 40L, 10L, 0L, 30L)), out(0).toString)
  }

  test("runtime bloom-filter join pruning ENGAGES: a selective dim " +
    "filter injects bloom_filter_might_contain into the fact side of a " +
    "shuffle join, and the filtered result is exact") {
    // file-based sources (InjectRuntimeFilter requires a scan to push
    // the filter toward) + forced SMJ (a broadcast join would reuse its
    // own exchange instead of a bloom)
    val base = tempDir("r10bloom").toString
    spark.range(50000).select(col("id").as("k"),
      (col("id") % 1000).as("payload"))
      .write.mode("overwrite").parquet(s"$base/fact")
    spark.range(2000).select(col("id").as("k"),
      (col("id") % 7).as("cat"))
      .write.mode("overwrite").parquet(s"$base/dim")
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.parquet(s"$base/fact")
      val dim = spark.read.parquet(s"$base/dim").where(col("cat") === 3)
      val j = fact.join(dim, "k").groupBy().agg(
        count(lit(1)).as("n"), sum("payload").as("s"))
      assert(j.queryExecution.optimizedPlan.toString
        .contains("might_contain"),
        "expected InjectRuntimeFilter to add a bloom filter to the " +
          "fact scan side:\n" + j.queryExecution.optimizedPlan)
      val r = j.collect()(0)
      // dim keys with cat=3: k ∈ {3,10,17,...} — 286 of 2000; payload =
      // k % 1000 exactly (k < 50000 all present)
      val keys = (0L until 2000L).filter(_ % 7 == 3)
      assert(r.getLong(0) == keys.length)
      assert(r.getLong(1) == keys.map(_ % 1000).sum)
    }
  }

  test("qs18 semi join: a twice-purchased click emits ONCE, the exact " +
    "window edge is included, one second past it (and no purchase at " +
    "all) never emits") {
    val t0 = 1_700_000_000_000_000L
    val w = 21_600_000_000L // the default 6h window in µs
    val dir = plantEvents(Seq(
      (10L, t0, 1L, "click", 0.0),
      (11L, t0 + 1_000_000L, 1L, "purchase", 1.0), // two in-window
      (12L, t0 + 2_000_000L, 1L, "purchase", 1.0), //   purchases
      (20L, t0, 2L, "click", 0.0),
      (21L, t0 + w + 1_000_000L, 2L, "purchase", 1.0), // 1 s late
      (30L, t0, 3L, "click", 0.0), // no purchase
      (40L, t0, 4L, "click", 0.0),
      (41L, t0 + w, 4L, "purchase", 1.0))) // exact edge: included
    val out = graft.streaming.StreamingReplay
      .streamStreamSemiReplay(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L, 40L),
      out.mkString(","))
  }

  test("qs17 rewindow: hour-23 cells land in THEIR day (start-based " +
    "re-assignment), the day rollup counts finalized hour cells") {
    val d0 = 1_699_920_000_000_000L // 2023-11-14 00:00 UTC
    val h = 3_600_000_000L
    val dir = plantEvents(Seq(
      (1L, d0 + 23 * h + 30 * 60_000_000L, 1L, "view", 1.5),
      (2L, d0 + 23 * h + 45 * 60_000_000L, 2L, "view", 2.25),
      (3L, d0 + 23 * h + 50 * 60_000_000L, 3L, "click", 0.5),
      (4L, d0 + 24 * h + 15 * 60_000_000L, 4L, "view", 4.0)))
    val out = graft.streaming.StreamingReplay
      .rewindowRollupReplay(spark, dir).collect()
    assert(out.length == 2, out.mkString(","))
    // day 0: hour-23 cells (view n=2 vm=3750, click n=1 vm=500) — NOT
    // leaked into day 1 by the re-windowing
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3),
      out(0).getLong(4)) == ((2L, 3L, 4250L, 2L)), out(0).toString)
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3),
      out(1).getLong(4)) == ((1L, 1L, 4000L, 1L)), out(1).toString)
  }

  test("qx78 readability: hand-computed centi-FK on two planted docs " +
    "((39·w)div s + (1180·syl)div w − 1559, vowel-group syllables)") {
    val dir = plantDocs(Seq(
      // 6 words, 1 sentence, 6 vowel groups → 234 + 1180 − 1559 = −145
      (1L, "The cat sat on the mat.", "en", "s"),
      // 3 words, 2 sentences, 4 vowel groups ('Ye' is ONE run) →
      // 58 + 1573 − 1559 = 72
      (2L, "Hello world! Yes.", "en", "s")))
    val r = queries.ExtQueries.queries("qx78_readability")(spark, dir)
      .collect()(0)
    assert(r.getString(0) == "s")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, -73L, -145L, 72L)),
      s"got ${(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))}")
    assert(r.getDouble(5) == -73.0 / 2.0 / 100.0)
  }
}
