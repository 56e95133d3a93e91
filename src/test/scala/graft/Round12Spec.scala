package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

/** Round-12 pins: the global-window audit lint (VERDICT r11 item 2) and
  * the qe35 indexed-leg equivalences (item 3). */
class Round12Spec extends SparkTestBase {

  // ---- global-window lint -------------------------------------------------
  //
  // An unpartitioned `Window.orderBy` plans as ONE task holding its whole
  // input — correct only when that input is provably bounded (the qx81
  // round-11 `weak`: a "vocabulary-grain" window is NOT bounded on a web
  // corpus). Discipline: every such site must carry a
  // `GLOBAL-WINDOW BOUND (<class>): <why>` marker within the 8 preceding
  // lines, with <class> one of the audited categories below; and the
  // per-file site COUNT is pinned, so a new global window fails this spec
  // until its bound is named and the count consciously updated.

  // bucket-grain (r15): a two-level prefix sum's CARRY window — one row
  // per fixed-size doc bucket (÷65536), so the single task holds
  // |docs|/65536 rows; a deeper corpus adds a third level, same pattern
  private val allowedClasses = Set("post-limit", "distinct-value",
    "calendar", "label-vocab", "inherent-global-report", "bucket-grain")

  private val expectedSites = Map(
    "src/main/scala/graft/queries/ExtQueries.scala" -> 32, // +qz70 (label-vocab), +qz73 (distinct-value), +qz74 (calendar); r15 +qx99 (bucket-grain)
    "src/main/scala/graft/queries/CoreQueries.scala" -> 1,
    "src/main/scala/graft/ext/Models.scala" -> 1)

  test("global-window lint: every unpartitioned Window.orderBy in main " +
    "sources carries a GLOBAL-WINDOW BOUND marker of an audited class, " +
    "and the per-file site counts match the audit") {
    val marker = """GLOBAL-WINDOW BOUND \(([a-z-]+)\)""".r
    val root = new java.io.File("src/main/scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val found = scala.collection.mutable.Map.empty[String, Int]
    walk(root).foreach { f =>
      val rel = f.getPath
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      var n = 0
      (0 until lines.size()).foreach { i =>
        if (lines.get(i).contains("Window.orderBy")) {
          n += 1
          val ctx = (math.max(0, i - 8) to i)
            .map(lines.get).mkString("\n")
          val m = marker.findFirstMatchIn(ctx)
          assert(m.isDefined,
            s"$rel:${i + 1}: unpartitioned Window.orderBy without a " +
              "GLOBAL-WINDOW BOUND marker in the preceding 8 lines — " +
              "name the bound (or partition the window) before shipping")
          assert(allowedClasses.contains(m.get.group(1)),
            s"$rel:${i + 1}: unknown bound class '${m.get.group(1)}'")
        }
      }
      if (n > 0) found(rel) = n
    }
    assert(found.toMap == expectedSites,
      s"global-window site census changed: found $found, audit says " +
        s"$expectedSites — re-audit the new/moved sites and update both")
  }

  // ---- qx66 / qx84 rewrites: TakeOrdered replaced the vocab window --------

  test("qx66 and qx84 plans: the vocabulary rank windows are gone — " +
    "top-k is a TakeOrdered heap, and any remaining window sits ABOVE " +
    "it (post-limit rows only)") {
    def plan(q: String): String = SparkEntry.queries(q)(spark, sfDir)
      .queryExecution.executedPlan.toString
    val p66 = plan("qx66_burstiness")
    assert(p66.contains("TakeOrderedAndProject"), p66)
    // tree prints top-down: the rank window's CHILD (the TakeOrdered)
    // must appear after it — i.e. the window consumes ≤ 30 rows
    assert(p66.indexOf("TakeOrderedAndProject") > p66.indexOf("Window ["),
      p66)
    val p84 = plan("qx84_kwic_collocates")
    assert(!p84.contains("Window ["), p84)
    assert(p84.contains("TakeOrderedAndProject"), p84)
  }

  // ---- qe35 indexed leg: exact at covering settings ------------------------

  test("ivfKnnPrenorm at COVERING settings (nprobe = nlist) equals " +
    "bruteForceKnn row for row — the qe9 exhaustive argument: every " +
    "corpus vector sits in exactly one cell and every query probes all " +
    "cells, so the candidate set IS the cross product") {
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.where(col("vec_id") < 100)
    val key = Some(s"$sfDir|nlist=16|iters=5")
    val indexed = ext.Similarity
      .ivfKnnPrenorm(emb, anchors, 5, nlist = 16, nprobe = 16,
        cacheKey = key)
      .select("q_id", "n_id", "rank")
    val brute = ext.Similarity.bruteForceKnn(emb, anchors, 5)
      .select("q_id", "n_id", "rank")
    assert(indexed.exceptAll(brute).isEmpty &&
      brute.exceptAll(indexed).isEmpty,
      "indexed-at-covering and brute top-5 diverge")
    assert(indexed.count() == brute.count())
  }

  test("ivfKnnPrenorm equals ivfKnn at PRODUCTION settings too " +
    "(nprobe = 4 and 8 of nlist = 16, shared fit): the max_by " +
    "partial-agg assignment and the precomputed-norm scores are " +
    "implementation changes, not semantic ones") {
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.where(col("vec_id") < 20)
    val key = Some(s"$sfDir|nlist=16|iters=5")
    Seq(4, 8).foreach { np =>
      val a = ext.Similarity
        .ivfKnnPrenorm(emb, anchors, 5, nlist = 16, nprobe = np,
          cacheKey = key)
        .select("q_id", "n_id", "rank")
      val b = ext.Similarity
        .ivfKnn(emb, anchors, 5, nlist = 16, nprobe = np, cacheKey = key)
        .select("q_id", "n_id", "rank")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"prenorm and window IVF diverge at nprobe=$np")
    }
  }

  // ---- trip-envelope DataSourceV2 ------------------------------------------

  test("trip-envelope DSv2: roundtrips the sink's lines, prunes the " +
    "payload column out of the scan, and plans one input partition " +
    "per line file") {
    import spark.implicits._
    val path = tempDir("r12-envelope").toString
    val df = Seq((1L, 1, "AABB"), (2L, 1, "CCDD"), (3L, 2, "EEFF"))
      .toDF("id", "vt", "payload")
    graft.sources.TripSink.writeJsonLines(df.repartition(2), col("id"),
      col("vt"), col("payload"), path)
    val back = spark.read.format("trip-envelope").load(path)
    assert(back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1L, 1, "AABB"), (2L, 1, "CCDD"), (3L, 2, "EEFF")))
    // column pruning reaches the scan: a projection of id alone must
    // not carry the (byte-dominant) payload column in the read schema
    val p = back.select("id").queryExecution.executedPlan.toString
    assert(p.contains("struct<id:bigint>"), p)
    assert(!p.contains("json:string"), p)
    // file-grain partition planning: read parallelism == sink files
    val nFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(nFiles >= 2, s"expected a multi-file sink, got $nFiles")
    assert(back.rdd.getNumPartitions == nFiles)
  }

  // ---- §2.25 fixtures -------------------------------------------------------

  import spark.implicits._

  private val DayUs = 86_400_000_000L

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r12ev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("r12doc").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def plantEmbeddings(rows: Seq[(Long, Seq[Float], Int)])
      : String = {
    val dir = tempDir("r12emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def plantDays(counts: Seq[Int]): String = {
    val t0 = 19_700L * DayUs
    var id = 0L
    plantEvents(counts.zipWithIndex.flatMap { case (n, d) =>
      (1 to n).map { i => id += 1
        (id, t0 + d * DayUs + i * 1_000_000L, id % 3, "view", 0.0) }
    })
  }

  test("qz59 cusum: the reflection identity (cumsum minus running min) " +
    "reproduces the max(0, S+dev) recurrence computed independently, " +
    "and the planted level shift alarms upward") {
    // 20 quiet days at 10, then 4 shifted days at 50 — the shift is a
    // tail minority so the global-mean baseline stays near the quiet
    // level and the accumulated S+ crosses the 4mu alarm
    val counts = Seq.fill(20)(10) ++ Seq.fill(4)(50)
    val dir = plantDays(counts)
    val out = queries.ExtQueries.queries("qz59_cusum")(spark, dir)
      .collect()
    val mu = 1_000_000L * counts.sum / counts.length // integer div, >0
    val k = mu / 4
    var sPos = 0L; var sNeg = 0L
    out.foreach { r =>
      val x = r.getLong(1)
      sPos = math.max(0L, sPos + (x * 1_000_000L - mu - k))
      sNeg = math.max(0L, sNeg + (mu - k - x * 1_000_000L))
      assert(r.getLong(2) == sPos, s"s_pos diverged at $r")
      assert(r.getLong(3) == sNeg, s"s_neg diverged at $r")
      assert(r.getBoolean(4) == (sPos > 4 * mu), s"alarm_up at $r")
      assert(r.getBoolean(5) == (sNeg > 4 * mu), s"alarm_down at $r")
    }
    assert(out.last.getBoolean(4), "upward alarm expected after the shift")
  }

  test("qz60 interevent: hand-placed gaps land in their pow2 buckets") {
    val t0 = 19_700L * DayUs
    // one user, gaps 0.5s / 1s / 2s / 4s / 9s
    val times = Seq(0L, 500_000L, 1_500_000L, 3_500_000L, 7_500_000L,
      16_500_000L)
    val dir = plantEvents(times.zipWithIndex.map { case (us, i) =>
      (i.toLong + 1L, t0 + us, 1L, "view", 0.0) })
    val out = queries.ExtQueries.queries("qz60_interevent_hist")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // buckets: 0 (sub-second), 1 (1s), 2 (2s), 3 (4s), 4 (9s)
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"got $out")
  }

  test("qz61 acf: an alternating series has zero lag-1 and 0.75 lag-2 " +
    "correlation (hand-computed on floor-mean deviations)") {
    val dir = plantDays(Seq(1, 2, 1, 2, 1, 2, 1, 2))
    val out = queries.ExtQueries.queries("qz61_acf")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(1L) == 0.0, s"lag1: $out")
    assert(out(2L) == 0.75, s"lag2: $out")
  }

  test("qx86 bigram lift: the abc-cycle corpus scores (a,b) and (b,c) " +
    "at lift 3000 milli and P(b|a) = 1e6, with (c,a) under support") {
    val dir = plantDocs(Seq((1L, Seq.fill(5)("a b c").mkString(" "))))
    val out = queries.ExtQueries.queries("qx86_bigram_lift")(spark, dir)
      .collect()
    assert(out.length == 2, out.mkString(";"))
    val ab = out.head
    assert(ab.getString(0) == "a" && ab.getString(1) == "b" &&
      ab.getLong(2) == 5L && ab.getLong(3) == 1_000_000L &&
      ab.getLong(4) == 3000L, ab.toString)
    val bc = out(1)
    assert(bc.getString(0) == "b" && bc.getString(1) == "c" &&
      bc.getLong(4) == 3000L, bc.toString)
  }

  test("qx87 winnowing: density bounds hold on an all-distinct doc — " +
    "every window selects, a selection covers at most w windows") {
    val dir = plantDocs(Seq(
      (1L, (0 until 20).map(i => s"t$i").mkString(" "))))
    val r = queries.ExtQueries.queries("qx87_winnowing")(spark, dir)
      .collect().head
    val (ng, nw, nfp) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ng == 18 && nw == 15, r.toString)
    assert(nfp <= nw && 4L * nfp >= nw,
      s"winnowing density out of bounds: $r")
  }

  test("qe38 reciprocity: a fence smaller than k+1 is a complete " +
    "digraph — every edge reciprocal, recip_milli = 1000") {
    val vecs = (0 until 5).map { i =>
      (i.toLong, Seq.tabulate(8)(j => if (j == i) 1f else 0.1f), i % 2)
    }
    val dir = plantEmbeddings(vecs)
    val out = queries.ExtQueries.queries("qe38_knn_reciprocity")(
      spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == 1000L,
        r.toString)
    }
  }

  test("qz65 interrupted time series: a planted level shift at the " +
    "midpoint yields flat slopes and the shifted post mean " +
    "(hand-computed closed-form OLS)") {
    // 8 days: 10,10,10,10 then 30,30,30,30 — cut = (d0+d1+1) div 2 is
    // the 5th day, segments are exactly the two plateaus
    val dir = plantDays(Seq(10, 10, 10, 10, 30, 30, 30, 30))
    val out = queries.ExtQueries.queries("qz65_interrupted_ts")(
      spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val pre = out("pre"); val post = out("post")
    assert(pre.getLong(1) == 4 && post.getLong(1) == 4)
    // flat plateaus: slope numerators are exactly zero
    assert(pre.getLong(2) == 0L && post.getLong(2) == 0L,
      s"expected zero slope numerators: $pre / $post")
    assert(pre.getLong(4) == 10_000L && post.getLong(4) == 30_000L)
  }

  test("q62 data-quality audit: a clean lake reports every rule at " +
    "zero violations") {
    val out = SparkEntry.queries("q62_fk_quality_audit")(spark, sfDir)
      .collect()
    assert(out.length == 5, out.mkString(";"))
    out.foreach(r => assert(r.getLong(1) == 0L,
      s"fixture lake should be clean: $r"))
  }

  test("qz66 engagement depth: histogram masses sum to the user count " +
    "and shares to ~1e6 ppm") {
    val out = SparkEntry.queries("qz66_active_days_hist")(spark, sfDir)
      .collect()
    val users = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(out.map(_.getLong(1)).sum == users)
    val ppm = out.map(_.getLong(2)).sum
    // floor-division shares: within one ppm-unit per bucket of 1e6
    assert(ppm <= 1_000_000L && ppm > 1_000_000L - out.length,
      s"ppm sum $ppm")
  }

  test("q63 interval frame: the trailing-hour count at a planted " +
    "burst matches the hand count, ties at the frame edge included") {
    val t0 = 19_700L * DayUs
    val H = 3_600_000_000L
    // user 1: events at 0s, +30min, +60min (exactly 1h after the
    // first — RANGE is inclusive, so it counts all three), +3h
    val dir = plantEvents(Seq(
      (1L, t0, 1L, "view", 0.0),
      (2L, t0 + H / 2, 1L, "view", 0.0),
      (3L, t0 + H, 1L, "view", 0.0),
      (4L, t0 + 3 * H, 1L, "view", 0.0)))
    val out = SparkEntry.queries("q63_interval_frame")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L),
      s"got $out")
  }

  test("qe37 norm outliers: one exploded-norm vector per label lands " +
    "above the Tukey fence") {
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(j => 1f + 0.001f * ((i + j) % 7)), 0)
    }
    val out1 = (100L, Seq.fill(8)(100f), 0)
    val dir = plantEmbeddings(base :+ out1)
    val r = queries.ExtQueries.queries("qe37_norm_outliers")(spark, dir)
      .collect().head
    assert(r.getLong(1) == 41L && r.getLong(5) == 1L, r.toString)
  }
}
