package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.Row

import graft.meos.{MeosFunctions, NativeExpressions, TGeom}

/** The native expressions: result parity with an independent reference
  * (the UDF parse, TGeom's driver-side codec for the trip codec, the
  * composed built-in forms for the text kernels), constant folding of
  * literal WKT, and whole-stage codegen participation. */
class NativeExprSpec extends SparkTestBase {

  test("native parse == UDF parse on the six grammars") {
    import spark.implicits._
    val wkts = Seq(
      "POINT(1 1)@2000-01-01",
      "{POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02}",
      "[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
      "Interp=Step;[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
      "{[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02], " +
        "[POINT(3 3)@2000-01-03, POINT(3 3)@2000-01-04]}",
      "SRID=4326;Point(-90.06 29.95)@2024-01-01T00:00:00+00").toDF("wkt")
    val both = wkts.select(col("wkt"),
      MeosFunctions.tgeompointOut(
        NativeExpressions.tgeompointParse(col("wkt"))).as("native"),
      MeosFunctions.tgeompointOut(
        MeosFunctions.tgeompointIn(col("wkt"))).as("viaUdf"))
      .collect()
    both.foreach { r =>
      assert(r.getAs[String]("native") == r.getAs[String]("viaUdf"))
      // the print leg is native on both sides: pin it to the driver codec
      assert(r.getAs[String]("native") ==
        TGeom.print(TGeom.parse(r.getAs[String]("wkt"))))
    }
  }

  test("literal WKT constant-folds at plan time (foldable)") {
    import spark.implicits._
    val df = Seq(1).toDF("i").select(
      NativeExpressions.tgeompointParse(
        lit("POINT(1 1)@2000-01-01")).as("v"))
    val optimized = df.queryExecution.optimizedPlan.toString
    // after ConstantFolding no parse expression remains — only a literal
    assert(!optimized.contains("tgeompoint_parse"), optimized)
    assert(df.collect()(0).getAs[org.apache.spark.sql.Row]("v")
      .getAs[Int]("subtype") == 1)
  }

  /** Run `body` with silent interpreted fallback disabled, so a janino
    * compile failure of generated code fails the test instead of hiding
    * (round-1 regression: nested-object bridges weren't valid Java). */
  private def noCodegenFallback[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("native parse runs inside WholeStageCodegen on datasource input") {
    val df = Tables.documents(spark, sfDir).limit(5)
      .select(NativeExpressions.tgeompointParse(
        format_string("POINT(%d 1)@2000-01-01", col("doc_id"))).as("v"))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` marks a WholeStageCodegen stage; the parse projection must
    // carry it (a CodegenFallback expression would break the star span)
    assert(plan.contains("*(1) Project [tgeompoint_parse"), plan)
    // and the generated stage must actually COMPILE: with fallback off a
    // janino error surfaces here instead of silently interpreting
    val rows = noCodegenFallback(df.collect())
    assert(rows.length == 5)
    assert(rows.forall(!_.isNullAt(0)))
  }

  // The codec's column API is native only, so its reference leg is
  // TGeom's driver-side codec on the same value, computed outside Spark.
  test("native WKB encode/decode == UDF legs, and compiles in codegen") {
    import spark.implicits._
    val wkts = Seq(
      "POINT(1 1)@2000-01-01",
      "{POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02}",
      "Interp=Step;[POINT(1 1)@2000-01-01, POINT(2.5 -3.5)@2000-01-02]",
      "SRID=4326;[POINT Z(1 1 9)@2000-01-01, POINT Z(2 2 8)@2000-01-02]",
      "{[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02], " +
        "[POINT(3 3)@2000-01-03]}").toDF("wkt")
    val v = wkts.select(col("wkt"),
      NativeExpressions.tgeompointParse(col("wkt")).as("v"))
    val df = v.select(col("wkt"),
      hex(NativeExpressions.tgeompointAsWkb(col("v"))).as("nat_wkb"),
      NativeExpressions.tgeompointAsHexWkb(col("v")).as("nat_hex"),
      NativeExpressions.tgeompointOut(
        NativeExpressions.tgeompointFromHexWkb(
          NativeExpressions.tgeompointAsHexWkb(col("v")))).as("nat_rt"),
      NativeExpressions.tgeompointOut(
        NativeExpressions.tgeompointFromWkb(
          NativeExpressions.tgeompointAsWkb(col("v")))).as("nat_rt_bin"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.length == 5)
    rows.foreach { r =>
      val ref = TGeom.parse(r.getAs[String]("wkt"))
      val refHex = TGeom.toHexWkb(ref)
      assert(TGeom.toHexWkb(TGeom.fromWkb(TGeom.toWkb(ref))) == refHex)
      assert(r.getAs[String]("nat_wkb").equalsIgnoreCase(refHex))
      assert(r.getAs[String]("nat_hex") == refHex)
      assert(r.getAs[String]("nat_rt") == TGeom.print(ref))
      assert(r.getAs[String]("nat_rt_bin") == TGeom.print(ref))
    }
  }

  test("native WKB codec handles the z-less assembly struct shape") {
    import graft.meos.Assembly
    val asm = Assembly.tpointAssemble()
    val df = Tables.events(spark, sfDir).limit(500)
      .withColumn("y", length(col("props")).cast("double"))
      .groupBy("user_id")
      .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
        col("y")).as("s"))
      .select(Assembly.tpointVal(col("s")).as("trip"))
      .select(col("trip"),
        MeosFunctions.tgeompointOut(col("trip")).as("wkt"),
        NativeExpressions.tgeompointAsHexWkb(col("trip")).as("hex"),
        MeosFunctions.tgeompointOut(
          NativeExpressions.tgeompointFromHexWkb(
            NativeExpressions.tgeompointAsHexWkb(col("trip")))).as("rt"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ref = TripVals.ofRow(r.getAs[Row]("trip"))
      assert(r.getAs[String]("wkt") == TGeom.print(ref))
      assert(r.getAs[String]("hex") == TGeom.toHexWkb(ref))
      assert(r.getAs[String]("rt") == TGeom.print(ref))
    }
  }

  test("native rhp_bands == composed banding, and compiles in codegen") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sfDir).limit(64)
    val df = emb.select(
      Similarity.rhpBands(col("embedding"), 64, 16, 4).as("native"),
      Similarity.rhpBandsComposed(col("embedding"), 64, 16, 4)
        .as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"))
    }
  }

  test("native minhash_bands == composed seeded-md5 banding (incl. empty " +
    "shingle set -> null bands), and compiles in codegen") {
    import graft.ext.Text
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("sh", Text.shingles(col("toks")))
    val df = docs.select(
      Text.lshBands(col("sh"), bands = 4).as("native"),
      Text.lshBandsComposed(col("sh"), bands = 4).as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"))
    }
    // empty shingle array: every band null, exactly like array_min
    val empty = Seq(Array.empty[String]).toDF("sh")
      .select(Text.lshBands(col("sh"), bands = 3).as("b")).collect()
    assert(empty(0).getAs[scala.collection.Seq[String]]("b") ==
      Seq(null, null, null))

    // fused token->bands kernel == shingle-then-band staging, including
    // the under-k case (fewer than 3 tokens -> all-null bands)
    val fused = docs.select(
      Text.lshBandsFromToks(col("toks"), bands = 4).as("native"),
      Text.lshBandsComposed(Text.shingles(col("toks")), bands = 4)
        .as("composed"))
    noCodegenFallback(fused.collect()).foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"))
    }
    val short = Seq(Array("a", "b")).toDF("toks")
      .select(Text.lshBandsFromToks(col("toks"), bands = 2).as("b"))
      .collect()
    assert(short(0).getAs[scala.collection.Seq[String]]("b") ==
      Seq(null, null))

    // NULL input array and null ELEMENTS follow the composed array_min
    // semantics: a null array still yields a non-null array of per-band
    // nulls (each band is array_min(transform(null,…)) = null inside a
    // never-null array(...)), and null shingles never compete for the min
    val nullin = Seq(
      (1, null.asInstanceOf[Array[String]]),
      (2, Array[String]("a b c", null, "b c d")),
      (3, Array[String](null, null))).toDF("id", "sh")
      .select(col("id"),
        Text.lshBands(col("sh"), bands = 3).as("native"),
        Text.lshBandsComposed(col("sh"), bands = 3).as("composed"))
    val nullRows = noCodegenFallback(nullin.collect())
    assert(nullRows.length == 3)
    nullRows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"), s"id=${r.get(0)}")
    }
    // fused kernel: null token array == shingles(null) (empty -> all-null
    // bands); a null TOKEN disappears like concat_ws drops it
    val nulltok = Seq(
      (1, null.asInstanceOf[Array[String]]),
      (2, Array[String]("a", null, "b", "c"))).toDF("id", "toks")
      .select(col("id"),
        Text.lshBandsFromToks(col("toks"), bands = 3).as("native"),
        Text.lshBandsComposed(Text.shingles(col("toks")), bands = 3)
          .as("composed"))
    noCodegenFallback(nulltok.collect()).foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"), s"id=${r.get(0)}")
    }
  }

  test("native shingle_hashes == conv(substring(md5(gram),1,15),16,10) " +
    "over composed shingles, incl. under-k docs, and compiles in codegen") {
    import graft.ext.Text
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
    val df = docs.select(
      NativeExpressions.shingleHashes(col("toks"), 13).as("native"),
      transform(Text.shingles(col("toks"), 13), g =>
        conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
        .as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("native") ==
        r.getAs[scala.collection.Seq[Long]]("composed"))
    }
    val short = Seq(Array("a", "b")).toDF("toks")
      .select(NativeExpressions.shingleHashes(col("toks"), 13).as("h"))
      .collect()
    assert(short(0).getAs[scala.collection.Seq[Long]]("h").isEmpty)
    // null toks: the composed form goes through Text.shingles, whose
    // null-false size() guard yields array() — so native must give EMPTY,
    // not null
    val nulltoks = Seq((1, null.asInstanceOf[Array[String]]))
      .toDF("id", "toks").select(
        NativeExpressions.shingleHashes(col("toks"), 13).as("native"),
        transform(Text.shingles(col("toks"), 13), g =>
          conv(substring(md5(g), 1, 15), 16, 10).cast("long"))
          .as("composed"))
    val nr = noCodegenFallback(nulltoks.collect())(0)
    assert(nr.getAs[scala.collection.Seq[Long]]("native") != null)
    assert(nr.getAs[scala.collection.Seq[Long]]("native") ==
      nr.getAs[scala.collection.Seq[Long]]("composed"))
  }

  test("native shingle_bottomk == slice(array_sort(transform(shingles, " +
    "md5)), 1, k), incl. under-k docs, and compiles in codegen") {
    import graft.ext.Text
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
    val df = docs.select(
      NativeExpressions.shingleBottomK(col("toks"), 3, 0, 4).as("native"),
      Text.bottomK(Text.shingles(col("toks"), 3), 4, 0).as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[String]]("native") ==
        r.getAs[scala.collection.Seq[String]]("composed"))
    }
    // fewer shingles than k: all of them, ascending; fewer than shingle
    // width: empty
    val tiny = Seq(Array("a", "b", "c", "d")).toDF("toks").select(
      NativeExpressions.shingleBottomK(col("toks"), 3, 0, 4).as("native"),
      Text.bottomK(Text.shingles(col("toks"), 3), 4, 0).as("composed"))
      .collect()(0)
    assert(tiny.getAs[scala.collection.Seq[String]]("native") ==
      tiny.getAs[scala.collection.Seq[String]]("composed"))
    val short = Seq(Array("a")).toDF("toks")
      .select(NativeExpressions.shingleBottomK(col("toks"), 3, 0, 4)
        .as("h")).collect()
    assert(short(0).getAs[scala.collection.Seq[String]]("h").isEmpty)
    // null toks: composed goes through Text.shingles (null → array()) —
    // native must give EMPTY, not null
    val nulltoks = Seq((1, null.asInstanceOf[Array[String]]))
      .toDF("id", "toks").select(
        NativeExpressions.shingleBottomK(col("toks"), 3, 0, 4)
          .as("native"),
        Text.bottomK(Text.shingles(col("toks"), 3), 4, 0).as("composed"))
    val nr = noCodegenFallback(nulltoks.collect())(0)
    assert(nr.getAs[scala.collection.Seq[String]]("native") != null)
    assert(nr.getAs[scala.collection.Seq[String]]("native") ==
      nr.getAs[scala.collection.Seq[String]]("composed"))
  }

  test("native token_entropy == the composed distinct/filter/fold HOF " +
    "form after round(9), and compiles in codegen") {
    import graft.ext.Text
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
    // composed per-row twin: p(t) = count(t)/n over the distinct terms in
    // ascending order — the same math the qx28 DuckDB oracle runs
    val composed = round(-aggregate(
      array_sort(array_distinct(col("toks"))), lit(0.0), (a, t) => {
        val p = size(filter(col("toks"), x => x === t)).cast("double") /
          size(col("toks")).cast("double")
        a + p * log(p)
      }), 9)
    val rows = noCodegenFallback(docs.select(
      round(NativeExpressions.tokenEntropy(col("toks")), 9).as("native"),
      composed.as("composed")).collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"$r")
    }
    // degenerates: uniform (ln k), single-token (0), repeated-only (0)
    import spark.implicits._
    val tiny = Seq(Array("a", "b", "c", "d"), Array("z"),
      Array("q", "q", "q")).toDF("toks")
      .select(NativeExpressions.tokenEntropy(col("toks")).as("h"))
      .collect().map(_.getDouble(0))
    assert(math.abs(tiny(0) - math.log(4.0)) < 1e-12)
    assert(tiny(1) == 0.0)
    // all-repeated docs must give +0.0 (not -0.0 — the twin's round()
    // keeps the sign, so a negative zero would break bit parity)
    assert(java.lang.Double.doubleToRawLongBits(tiny(2)) == 0L)
    // null elements are skipped, not NPE'd (SQL callers can pass them)
    val withNull = Seq(Array("a", null, "a", "b")).toDF("toks")
      .select(NativeExpressions.tokenEntropy(col("toks")).as("h"),
        NativeExpressions.maxRunCount(col("toks"), 1).as("m1"),
        NativeExpressions.maxRunCount(col("toks"), 2).as("m2"))
      .collect()(0)
    // probabilities over the 3 non-null tokens: 2/3, 1/3
    val exp = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3))
    assert(math.abs(withNull.getDouble(0) - exp) < 1e-12)
    assert(withNull.getLong(1) >= 1L && withNull.getLong(2) >= 1L)
  }

  test("native max_run_count == the explode/groupBy/max formulation for " +
    "k=1 and k=2, and compiles in codegen") {
    import graft.ext.Text
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
    // composed per-row twin via HOFs: max over distinct grams of each
    // gram's occurrence count
    def composed(grams: org.apache.spark.sql.Column) =
      coalesce(array_max(transform(array_distinct(grams), g =>
        size(filter(grams, x => x === g)))), lit(0)).cast("long")
    val rows = noCodegenFallback(docs.select(
      NativeExpressions.maxRunCount(col("toks"), 1).as("n1"),
      composed(col("toks")).as("c1"),
      NativeExpressions.maxRunCount(col("toks"), 2).as("n2"),
      composed(Text.shingles(col("toks"), 2)).as("c2")).collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"k=1: $r")
      assert(r.getLong(2) == r.getLong(3), s"k=2: $r")
    }
    // degenerates: under-k → 0, all-same, all-distinct
    val tiny = Seq(
      (Array("a"), 1L, 0L),
      (Array("q", "q", "q"), 3L, 2L),
      (Array("a", "b", "c"), 1L, 1L)).toDF("toks", "e1", "e2")
      .select(NativeExpressions.maxRunCount(col("toks"), 1).as("n1"),
        NativeExpressions.maxRunCount(col("toks"), 2).as("n2"),
        col("e1"), col("e2")).collect()
    tiny.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3),
        r.toString)
    }
  }

  test("native coverage_keep == the filter/exists HOF formulation, " +
    "compiles in codegen, and handles unsorted/null/empty starts") {
    import graft.ext.Text
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      // synthetic dup starts derived from the doc itself so every row
      // exercises a different (L, m) shape: every position whose token
      // length is even, in REVERSE order (kernel must sort internally —
      // collect_list order is not a contract)
      .withColumn("ps", reverse(filter(
        transform(col("toks"), (x, i) => when(length(x) % 2 === 0, i)),
        p => p.isNotNull)))
    val rows = noCodegenFallback(docs.select(
      NativeExpressions.coverageKeep(col("toks"), col("ps"), 12).as("n"),
      filter(col("toks"), (_, t) =>
        !exists(col("ps"), p => p <= t && t <= p + lit(12))).as("c"))
      .collect())
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"$r")
    }
    // degenerates: empty starts keep all, full cover keeps none, null
    // start elements are skipped, width 0 covers exactly the start
    val tiny = Seq(
      (Array("a", "b", "c"), Array.empty[Integer], Seq("a", "b", "c")),
      (Array("a", "b", "c"), Array[Integer](0), Seq.empty[String]),
      (Array("a", "b", "c"), Array[Integer](null, 1), Seq("a")))
      .toDF("toks", "ps", "want")
      .select(NativeExpressions.coverageKeep(col("toks"), col("ps"), 12)
        .as("got"), col("want")).collect()
    tiny.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    val w0 = Seq((Array("a", "b", "c"), Array(1)))
      .toDF("toks", "ps")
      .select(NativeExpressions.coverageKeep(col("toks"), col("ps"), 0))
      .collect()(0).getSeq[String](0)
    assert(w0 == Seq("a", "c"))
  }

  test("coverage_keep long-doc stress: a fully-duplicated 50k-token doc " +
    "filters in bounded time (the exists scan was O(L^2) here)") {
    import spark.implicits._
    val n = 50000
    val toks = Array.tabulate(n)(i => s"t${i % 37}")
    val ps = Array.range(0, n - 12) // every 13-gram duplicated
    val df = Seq((toks, ps)).toDF("toks", "ps")
      .select(NativeExpressions.coverageKeep(col("toks"), col("ps"), 12)
        .as("keep"))
    val t0 = System.nanoTime()
    val kept = df.collect()(0).getSeq[String](0)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(kept.isEmpty) // every token is covered by some dup span
    info(f"50k-token full-coverage sweep: $ms%.1f ms")
    assert(ms < 5000, f"sweep took $ms%.1f ms — not linear")
  }

  test("pq_encode/pq_adc == a driver-side reference, compile in codegen") {
    val m = 8; val subDim = 8; val k = 4
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 32)
    // deterministic toy codebook: NOT from a fit, so the expected values
    // are computable in plain Scala below
    val cb = Array.tabulate(m * k * subDim) { i =>
      ((i * 2654435761L % 97).toDouble - 48.0) / 97.0
    }
    val rows = noCodegenFallback(
      emb.select(col("vec_id"), col("embedding"),
        NativeExpressions.pqEncode(col("embedding"), cb, m, subDim, k)
          .as("codes"))
        .withColumn("adc", NativeExpressions.pqAdc(col("embedding"),
          col("codes"), cb, m, subDim, k))
        .collect())
    assert(rows.length == 32)
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
      val codes = r.getAs[scala.collection.Seq[Int]]("codes")
      // reference encode: argmin L2², ties to smallest cell
      val expCodes = (0 until m).map { j =>
        var best = 0; var bestD = Double.MaxValue
        for (c <- 0 until k) {
          var acc = 0.0
          for (t <- 0 until subDim) {
            val d = v(j * subDim + t).toDouble - cb((j * k + c) * subDim + t)
            acc += d * d
          }
          if (acc < bestD) { bestD = acc; best = c }
        }
        best
      }
      assert(codes == expCodes)
      // reference ADC: per-sub fold then sub-order sum (same vector is
      // both query and code source here)
      var total = 0.0
      for (j <- 0 until m) {
        var acc = 0.0
        for (t <- 0 until subDim) {
          val d = v(j * subDim + t).toDouble -
            cb((j * k + codes(j)) * subDim + t)
          acc += d * d
        }
        total += acc
      }
      assert(r.getAs[Double]("adc") == total)
    }
  }

  test("float_dot compiles inside WholeStageCodegen (no janino fallback)") {
    val emb = Tables.embeddings(spark, sfDir).limit(8)
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val df = a.join(b, col("i") < col("j"))
      .select(NativeExpressions.floatDot(col("ea"), col("eb")).as("d"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(0)))
  }

  // reference leg: TGeom's driver-side print of the same value
  test("native print == UDF print on the six grammars AND the z-less " +
    "assembly struct shape; compiles in codegen") {
    import spark.implicits._
    val wkts = Seq(
      "POINT(1 1)@2000-01-01",
      "POINT Z (1 2 3)@2000-01-01",
      "{POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02}",
      "[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
      "Interp=Step;[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
      "{[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02], " +
        "[POINT(3 3)@2000-01-03, POINT(3 3)@2000-01-04]}",
      "SRID=4326;Point(-90.06 29.95)@2024-01-01T00:00:00+00").toDF("wkt")
    val both = wkts.select(col("wkt"),
      NativeExpressions.tgeompointOut(
        MeosFunctions.tgeompointIn(col("wkt"))).as("native"))
    noCodegenFallback(both.collect()).foreach(r =>
      assert(r.getAs[String]("native") ==
        TGeom.print(TGeom.parse(r.getAs[String]("wkt")))))
    // z-less shape: the struct built by the assembly path has no z field
    import graft.meos.Assembly
    val asm = Assembly.tpointAssemble()
    val viaAssembly = Tables.events(spark, sfDir)
      .withColumn("y", length(col("props")).cast("double"))
      .groupBy("user_id")
      .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
        col("y")).as("s"))
      .select(Assembly.tpointVal(col("s")).as("trip"))
      .select(col("trip"),
        NativeExpressions.tgeompointOut(col("trip")).as("native"))
    noCodegenFallback(viaAssembly.collect()).foreach(r =>
      assert(r.getAs[String]("native") ==
        TGeom.print(TripVals.ofRow(r.getAs[Row]("trip")))))
  }

  test("native simhash32 == built-in composition on real docs; compiles " +
    "in codegen") {
    import graft.ext.Text
    val df = Tables.documents(spark, sfDir).limit(100)
      .withColumn("toks", Text.tokens(col("text")))
      .select(Text.tokenMd5s(col("toks")).as("th"))
      .select(
        NativeExpressions.simhash32(col("th")).as("native"),
        Text.simhash32(col("th")).as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[String]("native") == r.getAs[String]("composed")))
  }

  test("native frame_decode == the composed hex/conv HOF form on real " +
    "sampled frames (incl. short zero-padded tails) under codegen") {
    import graft.ext.Multimodal
    val frames = Multimodal.synthMedia(spark, sfDir).limit(100)
      .select(posexplode(
        Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4)))
      .toDF("frame_no", "frame")
    def byteAt(i: Int) = // zero-padded byte i of the frame, composed form
      when(octet_length(col("frame")) > i,
        conv(substring(hex(col("frame")), i * 2 + 1, 2), 16, 10)
          .cast("long")).otherwise(lit(0L))
    val composed = array(
      shiftright(byteAt(0), 4), byteAt(0).bitwiseAND(lit(15L)),
      byteAt(1), byteAt(2),
      byteAt(4) + byteAt(7) + byteAt(10) + byteAt(13),
      byteAt(5) + byteAt(8) + byteAt(11) + byteAt(14),
      byteAt(6) + byteAt(9) + byteAt(12) + byteAt(15),
      greatest(byteAt(4), byteAt(7), byteAt(10), byteAt(13)),
      greatest(byteAt(5), byteAt(8), byteAt(11), byteAt(14)),
      greatest(byteAt(6), byteAt(9), byteAt(12), byteAt(15)))
    val df = frames.select(
      NativeExpressions.frameDecode(col("frame")).as("native"),
      composed.as("composed"))
    val rows = noCodegenFallback(df.collect())
    assert(rows.nonEmpty)
    // short frames exist in the sample (doc tails), so zero-padding is hit
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
  }

  test("SQL registration as a native function") {
    NativeExpressions.register(spark)
    val r = spark.sql(
      "SELECT tgeompoint_parse('POINT(2 3)@2001-06-01').subtype AS st")
      .collect()(0)
    assert(r.getAs[Int]("st") == 1)
  }

  test("native float_dot is bit-identical to the composed fold") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val a = emb.select(col("vec_id").as("i"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("j"), col("embedding").as("eb"))
    val diffs = a.join(b, col("i") < col("j"))
      .select(
        Similarity.dot(col("ea"), col("eb")).as("native"),
        Similarity.dotComposed(col("ea"), col("eb")).as("composed"))
      .where(col("native") =!= col("composed"))
      .count()
    assert(diffs == 0)
  }

  test("null flows through (null-intolerant)") {
    import spark.implicits._
    val r = Seq(Option.empty[String]).toDF("wkt")
      .select(NativeExpressions.tgeompointParse(col("wkt")).as("v"))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("native sliding_min == built-in composition on real gram hashes " +
    "and degenerates (short arrays, duplicates, null) under codegen") {
    import graft.ext.Text
    // real data: every doc's positional 3-gram hashes, window 4
    val real = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
      .where(size(col("toks")) >= 3)
      .select(NativeExpressions.shingleHashes(col("toks"), 3).as("hs"))
      .select(
        Text.winnowFps(col("hs"), 4).as("native"),
        Text.winnowFpsComposed(col("hs"), 4).as("composed"))
    val rows = noCodegenFallback(real.collect())
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // degenerates: shorter than one window (1..3 elems), exact window,
    // all-equal values (the deque's >= pop path), descending, ascending
    import spark.implicits._
    val edge = Seq(
      Seq(7L), Seq(9L, 2L), Seq(5L, 5L, 5L),
      Seq(4L, 3L, 2L, 1L), Seq(1L, 2L, 3L, 4L),
      Seq(8L, 8L, 8L, 8L, 8L), Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L))
      .toDF("hs")
      .select(
        Text.winnowFps(col("hs"), 4).as("native"),
        Text.winnowFpsComposed(col("hs"), 4).as("composed"))
      .collect()
    edge.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // null / empty arrays: kernel contract is EMPTY out (the composed
    // otherwise-branch would emit [null]; qx43's ≥3-token filter makes
    // the case unreachable in the query, so the kernel picks the total
    // function)
    val empty = Seq(Option.empty[Seq[Long]], Some(Seq.empty[Long]))
      .toDF("hs")
      .select(NativeExpressions.slidingMin(col("hs"), 4).as("native"))
      .collect()
    empty.foreach(r => assert(r.getSeq[Long](0).isEmpty))
  }

  test("native cdc_chunk_keys == built-in composition on real docs and " +
    "degenerates (single token, boundary at the tail, empty string)") {
    import graft.ext.{Dedup, Text}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val real = Tables.documents(spark, sfDir)
      .withColumn("toks", Text.tokens(col("text")))
    val nat = rows(Dedup.cdcChunks(real))
    assert(nat.nonEmpty && nat == rows(Dedup.cdcChunksComposed(real)))
    // degenerates: the empty string tokenizes to [""], single tokens,
    // and a synthetic boundary word in every position incl. the tail
    // (boundaries only fire at i < n, so a trailing boundary word must
    // NOT open an empty chunk)
    import spark.implicits._
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val bWord = (1 to 400).map(i => s"w$i").find(w => h60(w) % 16 == 0).get
    val edge = Seq(
      (1L, ""), (2L, "solo"), (3L, bWord),
      (4L, s"$bWord trailing words here"),
      (5L, s"leading words here $bWord"),
      (6L, s"$bWord $bWord $bWord"))
      .toDF("doc_id", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val ne = rows(Dedup.cdcChunks(edge))
    assert(ne == rows(Dedup.cdcChunksComposed(edge)))
    // trailing-boundary doc: exactly one chunk (no empty tail chunk)
    assert(ne.count(_._1 == 5L) ==
      ne.filter(_._1 == 5L).map(_._2).max + 1)
  }
}
