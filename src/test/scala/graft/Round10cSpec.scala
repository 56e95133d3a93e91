package graft

import org.apache.spark.sql.functions._

/** Round-10 third-stint specs: planted-fixture proofs for the AD batch
  * (distributed-CC histogram, Pareto skyline, prefix-filtered
  * similarity join, SCD2 intervals, schema evolution, Complete-mode
  * streaming, cell-merge plan, cross-channel correlation) — each test
  * hand-computes its expected values so the oracle gate isn't the only
  * line of defense. */
class Round10cSpec extends SparkTestBase {
  import spark.implicits._

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r10cev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = tempDir("r10cdoc").toString
    rows.map { case (id, t, src) => (id, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // ---- qz48: distributed connected components -----------------------

  test("qz48 engine: the forced-distributed min-label loop labels a " +
    "diameter-4 path + a detached pair exactly like the driver finish") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("d1", "d2")
    val dist = ext.Dedup.connectedComponents(edges,
      driverFinishEdges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val drv = ext.Dedup.connectedComponents(edges,
      driverFinishEdges = 1000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (8L, 8L), (9L, 8L))
    assert(dist == want, s"distributed: $dist")
    assert(drv == want, s"driver: $drv")
  }

  test("qz48 histogram: the cluster-size rollup on the planted graph " +
    "reads {5 -> 1, 2 -> 1}") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("d1", "d2")
    val hist = ext.Dedup.connectedComponents(edges,
        driverFinishEdges = 0L)
      .groupBy("cluster").agg(count(lit(1)).as("n_members"))
      .groupBy("n_members").agg(count(lit(1)).as("n_clusters"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hist == Set((5L, 1L), (2L, 1L)), s"got $hist")
  }

  // ---- qz49: Pareto frontier ----------------------------------------

  test("qz49 skyline: dominated docs drop, x-tie losers drop, exact " +
    "(x, y) ties both survive") {
    // source A: (5,5)x2 ties kept, (6,3) kept (nothing longer),
    // (4,4) dominated by (5,5), (5,4) loses its x tie-block
    val dir = plantDocs(Seq(
      (1L, "a b c d e", "A"),
      (4L, "p q r s t", "A"),
      (2L, "a a b b c c", "A"),
      (3L, "a b c d", "A"),
      (5L, "a b c d d", "A"),
      // source B is independent: its single doc always survives
      (6L, "x y z", "B")))
    val out = queries.ExtQueries.queries("qz49_pareto_docs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("A", 1L), ("A", 4L), ("A", 2L), ("B", 6L)),
      s"got $out")
  }

  // ---- qx81: prefix-filtered similarity join ------------------------

  test("qx81 refine: identical sets collapse to a within-set mass row " +
    "at 1000 milli, the exact tau = 0.95 boundary is kept as a cross " +
    "pair, and 4-of-5 overlap is excluded") {
    val t20 = (1 to 20).map(i => s"t$i")
    val dir = plantDocs(Seq(
      (1L, "alpha beta gamma delta epsilon", "s"),
      (2L, "epsilon delta gamma beta alpha", "s"), // same SET -> within
      (3L, "alpha beta gamma delta zeta", "s"), // J = 4/6 — excluded
      (4L, t20.mkString(" "), "s"),
      (5L, t20.dropRight(1).mkString(" "), "s"))) // J = 19/20 = 0.95
    val out = queries.ExtQueries.queries("qx81_prefix_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 5L, 1000L),   // docs 1+2: one identity pair
      (4L, 5L, 1L, 19L, 950L)), s"got $out")
  }

  // ---- qz50: SCD2 intervals -----------------------------------------

  test("qz50 versions: an A,A,B,A run builds three intervals with a " +
    "-1us valid_to chain and is_current only on the open tail") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (1L, t0, 7L, "view", 0.0), (2L, t0 + 10L, 7L, "view", 0.0),
      (3L, t0 + 20L, 7L, "click", 0.0), (4L, t0 + 30L, 7L, "view", 0.0)))
    val out = queries.ExtQueries.queries("qz50_scd2_intervals")(
        spark, dir).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
      .toSeq
    assert(out == Seq(
      (1L, "view", t0, t0 + 19L, false),
      (2L, "click", t0 + 20L, t0 + 29L, false),
      (3L, "view", t0 + 30L, -1L, true)), s"got $out")
  }

  // ---- q53: schema evolution ----------------------------------------

  test("q53 merge: v1 rows surface NULL for the evolved columns and " +
    "only gen-2 rows carry value mass") {
    val t0 = 1_700_000_000_000_000L
    val dir = plantEvents(Seq(
      (2L, t0, 1L, "view", 5.5), // gen1: value dropped at stage time
      (4L, t0 + 1L, 1L, "view", 7.5), // gen1
      (1L, t0 + 2L, 2L, "view", 2.25), // gen2: milli 2250
      (3L, t0 + 3L, 2L, "click", 1.5))) // gen2: milli 1500
    val out = queries.CoreQueries.queries("q53_schema_evolution")(
        spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(("click", 1L, 1L, 1500L),
      ("view", 3L, 1L, 2250L)), s"got $out")
  }

  // ---- qs21: Complete-mode streaming top-k --------------------------

  test("qs21 complete mode: the final table is the whole-input top-3 " +
    "with the (n desc, type asc) tie-break") {
    val t0 = 1_700_000_000_000_000L
    // a: 3, b: 3 (tie -> a before b), c: 2, d: 1 (cut by LIMIT 3)
    val rows = Seq("a", "a", "a", "b", "b", "b", "c", "c", "d")
      .zipWithIndex.map { case (t, i) =>
        (i.toLong + 1L, t0 + i, i.toLong % 3L, t, 1.0) }
    val dir = plantEvents(rows)
    val out = streaming.StreamingReplay.completeTopkReplay(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 3L), ("b", 3L), ("c", 2L)), s"got $out")
  }

  // ---- qe30: cell-merge plan invariants -----------------------------

  test("qe30 plan invariants: 16 rows, do_merge iff 64n < nt, " +
    "merge_into = -1 and NULL cos_micro exactly on the keep rows, " +
    "and no cell merges into itself") {
    val out = queries.ExtQueries.queries("qe30_cell_merge_plan")(
      spark, sfDir).collect()
    assert(out.length == 16, s"rows=${out.length}")
    val nt = out.map(_.getLong(1)).sum
    out.foreach { r =>
      val (cell, n, tgt, merge) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))
      assert(merge == (n * 64L < nt), s"cell $cell flag")
      assert((tgt == -1L) == !merge, s"cell $cell target")
      assert(r.isNullAt(3) == !merge, s"cell $cell cos")
      assert(tgt != cell, s"cell $cell self-merge")
    }
  }

  // ---- qm16: cross-channel correlation ------------------------------

  test("qm16 plants: an alternating-byte asset reads corr -1/+1/-1 " +
    "across its three channel pairs; a constant asset reads 0") {
    val dir = plantDocs(Seq(
      (1L, "Aa" * 80, "s"), // c0/c1 anti-phase, c0/c2 in phase
      (2L, "B" * 160, "s"))) // zero variance -> corr 0 by contract
    val out = queries.ExtQueries.queries("qm16_channel_corr")(spark, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // hand-checked moments: 2 frames (strlen div 64 = 160 div 64),
    // per frame x = (65,97,65,97) vs y = (97,65,97,65) -> n = 8 and
    // num = n^2 (6305 - 6561) = -256 n^2 = -16384 exactly
    assert(out((1L, "c0c1")) == ((8L, -16384L, -1.0)),
      s"${out((1L, "c0c1"))}")
    assert(out((1L, "c0c2")) == ((8L, 16384L, 1.0)),
      s"${out((1L, "c0c2"))}")
    assert(out((1L, "c1c2")) == ((8L, -16384L, -1.0)),
      s"${out((1L, "c1c2"))}")
    assert(out((2L, "c0c1")) == ((8L, 0L, 0.0)),
      s"${out((2L, "c0c1"))}")
  }
}
