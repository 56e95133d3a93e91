package graft

import org.apache.spark.sql.functions._

/** Planted-invariant specs for the round-9 work — the semDedup hot-cell
  * guard foremost: the capped formulation must bound work on a collapsed
  * embedding distribution (the qe18 anisotropy failure mode) while
  * agreeing exactly with the uncapped one whenever no cell exceeds the
  * cap. */
class Round9Spec extends SparkTestBase {
  import spark.implicits._

  test("semDedup hot-cell cap: a fully collapsed corpus (every vector " +
    "identical → one hot cell) chunks by hash-mod against the pow2 " +
    "chunk count; each chunk keeps its min id and dominates the rest, " +
    "so pair work is ~n·cap, not n² — and no per-cell window exists") {
    val n = 40
    val cap = 8
    val emb = (0 until n).map(i => (i.toLong, Seq.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val out = ext.Similarity.semDedup(emb, tau = 0.9, nlist = 4,
      cellCap = cap).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    assert(out.size == n)
    // identical vectors tie to one cell of size 40; nchunks =
    // pow2ceil(ceil(40/8)) = 8, chunk(i) = md5_60(i) mod 8 — recompute
    // the assignment independently here, then assert per-chunk min-id
    // domination exactly
    def chunkOf(i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 8L
    }
    val heads = (0 until n).groupBy(chunkOf).map { case (c, is) =>
      c -> is.min }
    (0 until n).foreach { i =>
      val head = heads(chunkOf(i))
      val (kept, dupOf) = out(i.toLong)
      if (i == head)
        assert(kept && dupOf.isEmpty, s"vec $i should head its chunk")
      else
        assert(!kept && dupOf.contains(head.toLong),
          s"vec $i should be dominated by chunk head $head, got $dupOf")
    }
    // the scale point itself: no window PARTITIONED BY CELL anywhere in
    // the plan (the round-9 weak mark was a per-cell row_number that
    // single-tasked the hot cell; the surviving window in assignCells
    // partitions by vec_id — uniform nlist rows per vector, safe)
    val plan = ext.Similarity.semDedup(emb, tau = 0.9, nlist = 4,
      cellCap = cap).queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*windowspecdefinition\\(cell#.*"),
      s"capped semDedup must have no per-cell window, got:\n$plan")
  }

  test("semDedup cap is a no-op when every cell is under it: capped and " +
    "uncapped runs agree row-for-row on the fixture embeddings") {
    val emb = Tables.embeddings(spark, sfDir)
    val key = Some(s"$sfDir|round9spec|nlist=16|iters=5")
    val uncapped = ext.Similarity.semDedup(emb, 0.4, cellCap = 0,
      cacheKey = key).orderBy("vec_id").collect().toSeq
    val capped = ext.Similarity.semDedup(emb, 0.4, cellCap = 4096,
      cacheKey = key).orderBy("vec_id").collect().toSeq
    assert(capped == uncapped)
    assert(capped.nonEmpty)
  }

  test("session_window boundary rule: an event at EXACTLY lastTs+gap " +
    "MERGES (inclusive session end), one tick past the gap opens a new " +
    "session — the rule the qs7 twin's strict > break encodes") {
    val gapUs = 10_000_000L // 10 s
    def sessions(ts: Seq[Long]): Seq[Long] = {
      val df = ts.map(u => (1L, new java.sql.Timestamp(u / 1000L)))
        .toDF("user_id", "ts")
      df.groupBy(col("user_id"), session_window(col("ts"), "10 seconds"))
        .agg(count(lit(1)).as("n"))
        .select(col("n")).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(sessions(Seq(0L, gapUs)) == Seq(2L),
      "exact-gap event must merge into the session")
    assert(sessions(Seq(0L, gapUs + 1000L)) == Seq(1L, 1L),
      "one tick past the gap must open a new session")
  }

  test("semDedup capped run is conservative: every vector it keeps " +
    "includes all vectors the uncapped run keeps (under-merge only)") {
    val emb = Tables.embeddings(spark, sfDir)
    val key = Some(s"$sfDir|round9spec|nlist=16|iters=5")
    def keptSet(cap: Int): Set[Long] =
      ext.Similarity.semDedup(emb, 0.4, cellCap = cap, cacheKey = key)
        .where(col("kept")).select("vec_id").collect()
        .map(_.getLong(0)).toSet
    val uncappedKept = keptSet(0)
    val tightKept = keptSet(8)
    assert(uncappedKept.subsetOf(tightKept),
      "chunking may only miss dominations, never invent them")
  }

  test("derivedNlist: grows linearly with corpus size, floors at 16, " +
    "caps at 2^20 — the default config is never a 16-mega-cell fit") {
    import ext.Similarity.derivedNlist
    assert(derivedNlist(0L) == 16 && derivedNlist(10_000L) == 16,
      "small corpora floor at 16 cells")
    assert(derivedNlist(1_000_000L) == 976)
    assert(derivedNlist(1_000_000_000L) == 976562,
      "1e9 vectors derive ~977k cells of ~1k vectors")
    assert(derivedNlist(1_000_000_000L) > derivedNlist(100_000_000L) &&
      derivedNlist(100_000_000L) > derivedNlist(1_000_000L),
      "nlist must grow with the corpus")
    assert(derivedNlist(Long.MaxValue) == (1 << 20),
      "the centroid broadcast stays bounded")
    assert(derivedNlist(1_000_000L, targetCellSize = 100) == 10000,
      "targetCellSize steers the balance point")
  }

  test("semDedupAuto: the auto-sized fit runs end-to-end and keeps the " +
    "per-vector output contract; its cache key is nlist-qualified so " +
    "sweeps at different corpus sizes never reuse a stale fit") {
    val n = 64
    // two well-separated clusters so k-means has structure to find
    val emb = (0 until n).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.tabulate(4)(d => base * (d + 1) + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val out = ext.Similarity.semDedupAuto(emb, tau = 0.999,
      targetCellSize = 4, cacheKey = Some("round9spec|auto"))
    assert(out.count() == n, "one output row per corpus vector")
    assert(out.columns.toSeq ==
      Seq("vec_id", "cell", "kept", "dup_of"))
    // derived sizing: 64/4 = 16 cells (at the floor boundary)
    assert(ext.Similarity.derivedNlist(n, targetCellSize = 4) == 16)
  }

  test("lineDedup: a boilerplate header shared by >= minDf docs is " +
    "stripped from every doc; unique lines survive in original order; " +
    "blank lines are never counted as boilerplate; an all-boilerplate " +
    "doc reassembles to NULL") {
    val header = "SUBSCRIBE TO OUR NEWSLETTER"
    val docs = ((0 until 6).map { i =>
      (i.toLong, s"$header\nbody line $i\n\ntail $i")
    } :+ (99L, header)) // doc 99 is ONLY the boilerplate line
      .toDF("doc_id", "text")
    val out = ext.Dedup.lineDedup(docs, minDf = 5L).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.getString(3)))).toMap
    assert(out.size == 7)
    (0 until 6).foreach { i =>
      val (nLines, nKept, text) = out(i.toLong)
      assert(nLines == 4 && nKept == 3,
        s"doc $i: header stripped, body+blank+tail kept, got $nKept")
      assert(text.contains(s"body line $i\n\ntail $i"),
        s"doc $i must reassemble survivors in order incl. blank line")
    }
    val (n99, k99, t99) = out(99L)
    assert(n99 == 1 && k99 == 0 && t99.isEmpty,
      "all-boilerplate doc: zero kept lines, NULL text")
  }

  test("lineDedup: df counts DISTINCT docs, so a line repeated many " +
    "times inside ONE doc is not boilerplate") {
    val docs = Seq(
      (1L, "echo\necho\necho\necho\necho\necho"),
      (2L, "other")).toDF("doc_id", "text")
    val out = ext.Dedup.lineDedup(docs, minDf = 5L).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 6L, "intra-doc repeats are kept (df=1)")
  }

  test("scrubPii: masks email/url/uuid/digit-runs in class order — a " +
    "URL's path digits count as URL, not NUM; counts are per class; " +
    "replacement is replace-ALL") {
    val txt = "mail a@b.com and c.d+x@e.org, see " +
      "http://site.com/p/12345 id 12345678-abcd-ef01-2345-6789abcdef01 " +
      "then 42 and 777"
    val r = Seq(Tuple1(txt)).toDF("text")
      .select(ext.Text.scrubPii(col("text")).as("p"))
      .select("p.n_email", "p.n_url", "p.n_uuid", "p.n_num", "p.text")
      .head()
    assert(r.getLong(0) == 2, "two emails")
    assert(r.getLong(1) == 1, "one url")
    assert(r.getLong(2) == 1, "uuid outside the url still found")
    assert(r.getLong(3) == 2,
      "42 and 777 only; the url's path digits were already masked")
    val scrubbed = r.getString(4)
    assert(scrubbed.contains("<EMAIL> and <EMAIL>,"))
    assert(scrubbed.contains("see <URL> id <UUID> then <NUM> and <NUM>"))
    assert(!scrubbed.contains("12345"), "no raw digits survive")
  }

  test("pagerankNano: on a planted star graph the hub outranks every " +
    "leaf, all leaves tie exactly (integer math — no float jitter), " +
    "and every rank is at least the uniform damping floor") {
    val k = 12
    val pairs = (1 to k).map(i => (0L, i.toLong)).toDF("d1", "d2")
    val out = ext.Dedup.pagerankNano(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == k + 1)
    val (hubDeg, hubPr) = out(0L)
    assert(hubDeg == k)
    val leafPrs = (1 to k).map(i => out(i.toLong)._2).distinct
    assert(leafPrs.size == 1, "leaves must tie bit-for-bit")
    assert(hubPr > leafPrs.head * (k / 2),
      s"hub concentrates rank: hub=$hubPr leaf=${leafPrs.head}")
    val n = k + 1
    val floor = 150000000L / n
    assert(out.values.forall(_._2 >= floor),
      "every node keeps the (1-d)/N floor")
  }

  test("pagerankNano: two disconnected equal-size cliques rank " +
    "identically — rank cannot leak across components") {
    // cliques {0,1,2} and {10,11,12}
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val pairs = (clique(Seq(0L, 1L, 2L)) ++ clique(Seq(10L, 11L, 12L)))
      .toDF("d1", "d2")
    val out = ext.Dedup.pagerankNano(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.values.toSeq.distinct.size == 1,
      "symmetric nodes in isomorphic components get identical rank")
  }

  test("qs8 stream-stream interval join: a purchase at EXACTLY " +
    "click_ts + window joins (inclusive upper bound), one microsecond " +
    "past does not, and a pre-click purchase never matches") {
    val dir = tempDir("qs8spec").toString
    val t0 = 1_700_000_000_000_000L // micros
    val winUs = 21_600L * 1_000_000L // the declared 6h default
    Seq(
      (10L, t0, 1L, "click", 0.0),
      (11L, t0 + winUs, 1L, "purchase", 1.0), // exact bound: joins
      (20L, t0, 2L, "click", 0.0),
      (21L, t0 + winUs + 1L, 2L, "purchase", 1.0), // 1 µs past: no
      (30L, t0, 3L, "click", 0.0),
      (31L, t0 - 1L, 3L, "purchase", 1.0)) // pre-click: no
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = streaming.StreamingReplay.streamStreamJoinReplay(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 11L, winUs)),
      s"only the exact-boundary pair joins, got ${out.toSeq}")
  }

  test("qs9 left-outer stream-stream join: matched clicks pair up, " +
    "unmatched clicks emit exactly one null-padded row once the " +
    "watermark passes their horizon, and the boundary stays inclusive") {
    val dir = tempDir("qs9spec").toString
    val t0 = 1_700_000_000_000_000L
    val winUs = 21_600L * 1_000_000L
    Seq(
      (10L, t0, 1L, "click", 0.0),
      (11L, t0 + winUs, 1L, "purchase", 1.0), // exact bound: matches
      (20L, t0, 2L, "click", 0.0),
      (21L, t0 + winUs + 1L, 2L, "purchase", 1.0), // 1 µs past: null row
      (30L, t0, 3L, "click", 0.0)) // no purchase at all: null row
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = streaming.StreamingReplay.streamStreamOuterReplay(spark, dir)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(out.toSeq == Seq((10L, Some(11L)), (20L, None), (30L, None)),
      s"got ${out.toSeq}")
  }

  test("qe20 SQ8 reconstruction error: per-label max MSE is bounded by " +
    "the worst per-dimension quantization step, and the reconstruction " +
    "cosine stays ~1 on the fixture") {
    val out = queries.ExtQueries.queries("qe20_quant_error")(spark, sfDir)
      .collect()
    assert(out.nonEmpty)
    val maxRng = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")))
      .groupBy("pos")
      .agg((max(col("col").cast("double")) -
        min(col("col").cast("double"))).as("rng"))
      .agg(max(col("rng"))).head().getDouble(0)
    // worst per-dim error is step/2 = rng/510; mse ≤ max_d (rng_d/510)²
    val bound = math.pow(maxRng / 510.0, 2) + 1e-9
    out.foreach { r =>
      assert(r.getDouble(3) <= bound,
        s"label ${r.getInt(0)}: max_mse ${r.getDouble(3)} > $bound")
      assert(r.getDouble(4) > 0.99,
        s"label ${r.getInt(0)}: recon cosine ${r.getDouble(4)}")
    }
  }

  test("qe21 centroid drift: identical halves drift 0 at cosine 1; a " +
    "planted one-dimension shift moves l2 by exactly its magnitude") {
    val dir = tempDir("qe21spec").toString
    Seq(
      (0L, Seq(1f, 2f, 3f, 4f), 0), // label 0: halves identical
      (1L, Seq(1f, 2f, 3f, 4f), 0),
      (10L, Seq(1f, 0f, 0f, 1f), 1), // label 1: odd half +3 in dim 1
      (11L, Seq(4f, 0f, 0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = queries.ExtQueries.queries("qe21_centroid_drift")(spark, dir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val (n0, n1, l2a, cosA) = out(0)
    assert(n0 == 1 && n1 == 1)
    assert(math.abs(l2a) < 1e-8 && math.abs(cosA - 1.0) < 1e-9,
      s"identical halves: l2 $l2a cos $cosA")
    assert(math.abs(out(1)._3 - 3.0) < 1e-7,
      s"planted shift: l2 ${out(1)._3} != 3")
  }

  test("qz10 BPE pairs: char bigrams count within words only — never " +
    "across whitespace — and rank by count desc then pair asc") {
    val dir = tempDir("qz10spec").toString
    Seq((0L, "ababa xy", "en", "s0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.ExtQueries.queries("qz10_bpe_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "ab", 2L), (2L, "ba", 2L), (3L, "xy", 1L)),
      s"got ${out.toSeq}")
  }

  test("qz11 shard planning: a doc is assigned where its cumulative " +
    "offset starts; an oversized doc overfills its shard (docs never " +
    "split); later docs resume in the next derived shard") {
    val dir = tempDir("qz11spec").toString
    def doc(id: Long, n: Int) = (id, "x" * n, "en", "s", n.toLong)
    // cum-before: 0, 40000, 80000, 180000 → shards 0, 0, 1, 2
    Seq(doc(1, 40000), doc(2, 40000), doc(3, 100000), doc(4, 10000))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.ExtQueries.queries("qz11_shard_plan")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 2L, 80000L, 1L, 2L), // overfilled: two docs, fill > 1
      (1L, 1L, 100000L, 3L, 3L), // the giant doc rides alone
      (2L, 1L, 10000L, 4L, 4L)), s"got ${out.toSeq}")
  }

  test("qx64 repeated-gram fraction: a doc of one repeated token is " +
    "maximally repetitive, an all-distinct doc scores 0, and docs under " +
    "3 tokens are excluded") {
    val dir = tempDir("qx64spec").toString
    Seq(
      (1L, "a a a a", "en", "s", 7L), // grams: "a a a" ×2 → rep 1/2
      (2L, "b c d e", "en", "s", 7L), // grams distinct → rep 0
      (3L, "x y", "en", "s", 3L)) // < 3 tokens: excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.ExtQueries.queries("qx64_rep_ngram_frac")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == (2L, 1L, 0.5, true), s"got ${out(1L)}")
    assert(out(2L) == (2L, 2L, 0.0, false), s"got ${out(2L)}")
  }

  test("qz12 decile dup lift: every doc lands in exactly one of 10 " +
    "deciles, dup counts never exceed doc counts, and rates are exact " +
    "quotients") {
    val rows = queries.ExtQueries.queries("qz12_decile_dup_lift")(
      spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((0L to 9L).toSet))
    val total = rows.map(_.getLong(1)).sum
    assert(total == Tables.documents(spark, sfDir).count(),
      "decile doc counts partition the corpus")
    rows.foreach { r =>
      val (n, d, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d >= 0 && d <= n)
      assert(rate == d.toDouble / n.toDouble)
    }
  }

  test("qp3 ingest pipeline: scrubbing BEFORE dedup collapses docs that " +
    "differ only in volatile tokens — two same-text docs with distinct " +
    "staged ids dedup to one survivor; manifest counts nest") {
    val dir = tempDir("qp3spec").toString
    val body = "the quick brown fox jumps over the lazy dog again " * 3
    Seq((1L, body.trim, "en", "s", body.trim.length.toLong),
      (2L, body.trim, "en", "s", body.trim.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = queries.ExtQueries.queries("qp3_ingest_pipeline")(spark, dir)
      .head()
    assert(r.getLong(1) == 2 && r.getLong(2) == 1,
      s"volatile-token twins must collapse: raw=${r.getLong(1)} " +
        s"dedup=${r.getLong(2)}")
    assert(r.getLong(3) <= r.getLong(2))
    if (r.getLong(3) > 0)
      assert(r.getLong(4) > 0 && r.getLong(5) >= 1,
        "survivors must land in at least one shard with bytes")
  }

  test("qp3 manifest on the fixture: counts nest per source and raw " +
    "totals cover the corpus") {
    val rows = queries.ExtQueries.queries("qp3_ingest_pipeline")(
      spark, sfDir).collect()
    assert(rows.map(_.getLong(1)).sum ==
      Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(1),
        s"${r.getString(0)}: quality ≤ dedup ≤ raw must nest")
    }
  }

  test("qx66 burstiness: a term clumped into one doc scores the " +
    "hand-computed VMR, a perfectly scattered term scores exactly 0, " +
    "and the clumped term outranks it") {
    val dir = tempDir("qx66spec").toString
    val docs = ((("bb " * 10) + "aa") +: Seq.fill(4)("bb aa")) ++
      Seq.fill(5)("aa")
    docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.trim, "en", "s", t.trim.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.ExtQueries.queries("qx66_burstiness")(spark, dir)
      .collect().map(r => r.getString(1) ->
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // bb: counts (10,1,1,1,1) over N=10 → mean 1.4, E[c²] 10.4,
    // vmr = (10.4 − 1.96)/1.4
    val (rankB, dfB, totB, vmrB) = out("bb")
    assert(dfB == 5 && totB == 14)
    assert(math.abs(vmrB - (10.4 - 1.96) / 1.4) < 1e-12)
    // aa: one per doc → Poisson-degenerate, vmr exactly 0
    val (rankA, dfA, _, vmrA) = out("aa")
    assert(dfA == 10 && vmrA == 0.0)
    assert(rankB < rankA, "the clumped term must outrank the scattered")
  }

  test("qz13 RHP fidelity: every bit budget compares the same full " +
    "pair-of-pairs set, tau is a valid correlation, and fidelity is " +
    "monotone in the bit budget on the fixture") {
    val rows = queries.ExtQueries.queries("qz13_rhp_fidelity")(
      spark, sfDir).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(16L, 32L, 64L))
    val nPairs = 190L // C(20,2) fence pairs
    rows.foreach { r =>
      assert(r.getLong(1) == nPairs * (nPairs - 1) / 2)
      assert(r.getLong(2) + r.getLong(3) <= r.getLong(1))
      assert(math.abs(r.getDouble(4)) <= 1.0)
    }
    val taus = rows.map(_.getDouble(4))
    assert(taus(0) < taus(1) && taus(1) < taus(2),
      s"more bits must order pairs more faithfully, got ${taus.toSeq}")
  }

  test("qe22 hard negatives: 5 per fenced query, every negative's label " +
    "differs from its query's, similarity is non-increasing in rank") {
    val qLabels = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 20).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val rows = queries.ExtQueries.queries("qe22_hard_negatives")(
      spark, sfDir).collect()
    assert(rows.length == qLabels.size * 5)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to 5L))
      byRank.foreach(r => assert(r.getInt(3) != qLabels(q),
        s"q$q: negative ${r.getLong(2)} shares the query label"))
      val cs = byRank.map(_.getDouble(4))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"q$q: similarity must not increase with rank")
    }
  }

  test("qx67 span-mask plan: the md5 coin reproduces exactly per " +
    "(doc, span), sentinel count = masked spans, and the realized " +
    "corpus mask fraction sits near the 15% design point") {
    val dir = tempDir("qx67spec").toString
    Seq((7L, (1 to 9).map(i => s"w$i").mkString(" "), "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def coin(doc: Long, span: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$doc:$span".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      hex < "26666666"
    }
    val expSpans = (0L to 2L).count(coin(7L, _))
    val r = queries.ExtQueries.queries("qx67_span_mask_plan")(spark, dir)
      .head()
    assert(r.getLong(1) == 9)
    assert(r.getLong(2) == expSpans.toLong,
      s"masked spans ${r.getLong(2)} != replicated coin $expSpans")
    assert(r.getLong(3) == expSpans.toLong * 3,
      "full spans of 3 tokens each")
    val frac = queries.ExtQueries.queries("qx67_span_mask_plan")(
      spark, sfDir)
      .agg(sum(col("n_masked_toks")).cast("double") /
        sum(col("n_toks")).cast("double")).head().getDouble(0)
    assert(frac > 0.10 && frac < 0.20,
      s"corpus mask fraction $frac should sit near 0.15")
  }

  test("qm5 frame stats: byte energy/peak/mean computed exactly from " +
    "the frame bytes (hand-checked ASCII), short tail frames keep " +
    "their true length") {
    val dir = tempDir("qm5spec").toString
    Seq((1L, "AB", "en", "s", 2L), // one 2-byte frame: 0x41, 0x42
      (2L, "A" * 100, "en", "s", 100L)) // one full 16-byte frame of 'A'
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.ExtQueries.queries("qm5_frame_stats")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(1L) == (2L, 131L, 66L, 65.5), s"got ${out(1L)}")
    assert(out(2L) == (16L, 16L * 65L, 65L, 65.0), s"got ${out(2L)}")
  }

  test("qz9 graded eval invariants: DCG never exceeds the IDCG computed " +
    "from the same grades, nDCG in (0,1], AP@10 in [0,1], MRR is 0 or " +
    "1/rank with rank <= 10") {
    val rows = queries.ExtQueries.queries("qz9_ndcg")(spark, sfDir)
      .collect()
    assert(rows.length == 20, "one row per fenced query")
    rows.foreach { r =>
      val (dcg, idcg, ndcg, ap, mrr) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(dcg <= idcg + 1e-9, s"q${r.getLong(0)}: dcg $dcg > idcg $idcg")
      assert(ndcg > 0.0 && ndcg <= 1.0 + 1e-9)
      assert(ap >= 0.0 && ap <= 1.0 + 1e-9)
      assert(mrr == 0.0 ||
        (1 to 10).exists(k => math.abs(mrr - 1.0 / k) < 1e-12),
        s"mrr $mrr must be 0 or a reciprocal rank")
    }
  }
}
