package graft

import org.apache.spark.sql.functions._

/** Hand-value fixtures for the round-13 batch (the Round12Spec §2.25
  * discipline): each new operator gets a planted input whose answer is
  * computable by hand, so the DuckDB hash gate is backed by a
  * human-checked expected value, not just cross-engine agreement. */
class Round13bSpec extends SparkTestBase {

  import spark.implicits._

  private val DayUs = 86_400_000_000L

  private def plantEvents(rows: Seq[(Long, Long, Long, String, Double)])
      : String = {
    val dir = tempDir("r13ev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def plantDocs(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("r13doc").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def plantEmbeddings(rows: Seq[(Long, Seq[Float], Int)])
      : String = {
    val dir = tempDir("r13emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ---- qe40 / qe41: sign packing and Hamming ranking by hand ---------------

  test("qe40 sign-ANN: hand-built vectors rank by Hamming then exact " +
    "cosine — all-same (h=0, cos 1), half-flipped (h=32, cos 0), " +
    "all-flipped (h=64, cos -1)") {
    val plus = Seq.fill(64)(1.0f)
    val half = Seq.fill(32)(1.0f) ++ Seq.fill(32)(-1.0f)
    val minus = Seq.fill(64)(-1.0f)
    val dir = plantEmbeddings(Seq(
      (0L, plus, 0), (100L, plus, 0), (101L, half, 0), (102L, minus, 0)))
    val out = queries.ExtQueries.queries("qe40_sign_ann")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      (0L, 100L, 1L, 0L, 1.0),
      (0L, 101L, 2L, 32L, 0.0),
      (0L, 102L, 3L, 64L, -1.0)), out.toSeq.toString)

    // qe41 on the same lake: exact top-5 is those same 3 rows, the sign
    // index returns all of them → n_hits 3, recall (1e6*3) div 5
    val rec = queries.ExtQueries.queries("qe41_sign_recall")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rec.toSeq == Seq((0L, 3L, 600000L)), rec.toSeq.toString)
  }

  // ---- qx91: chunk arithmetic by hand ---------------------------------------

  test("qx91 token chunking: hand token counts produce the 64/48 chunk " +
    "counts and overlap mass computed by hand") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // n -> (n_chunks, chunk_toks): 1->(1,1)  48->(1,48)  49->(2,50)
    // 64->(2,80)  113->(3,145)
    val dir = plantDocs(Seq(1L -> words(1), 2L -> words(48),
      3L -> words(49), 4L -> words(64), 5L -> words(113)))
    val out = queries.ExtQueries.queries("qx91_token_chunking")(spark, dir)
      .collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "src0")
    assert(r.getLong(1) == 5L, "n_docs")
    assert(r.getLong(2) == 275L, "n_toks = 1+48+49+64+113")
    assert(r.getLong(3) == 9L, "n_chunks = 1+1+2+2+3")
    assert(r.getLong(4) == 324L, "chunk_toks = 1+48+50+80+145")
    assert(r.getLong(5) == 1000000L * 49 / 275, "overlap_ppm")
  }

  // ---- qz67: retention triangle by hand -------------------------------------

  test("qz67 retention triangle: hand-planted activity produces the " +
    "hand-computed cohort x age matrix") {
    // week 2814 starts at day 19698 (2814*7)
    val d = 19698L
    def ev(id: Long, day: Long, u: Long) =
      (id, day * DayUs, u, "view", 0.0)
    val dir = plantEvents(Seq(
      ev(1, d, 1), ev(2, d + 7, 1), ev(3, d + 21, 1), // u1: wk 0,1,3
      ev(4, d + 1, 2), //                                u2: wk 0
      ev(5, d + 7, 3), ev(6, d + 14, 3))) //             u3: wk 1,2
    val out = queries.ExtQueries.queries("qz67_retention_triangle")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (2814L, 0L, 2L, 2L, 1000000L),
      (2814L, 1L, 1L, 2L, 500000L),
      (2814L, 3L, 1L, 2L, 500000L),
      (2815L, 0L, 1L, 1L, 1000000L),
      (2815L, 1L, 1L, 1L, 1000000L)), out.toSeq.toString)
  }

  // ---- qx92 / qp9: survivorship + composed chunking by hand -----------------

  test("qx92 survivorship: an exact-dup pair keeps the min doc_id and " +
    "books the loser's bytes; qp9 chunks only the survivors") {
    def words(a: Int, b: Int) = (a to b).map(i => s"t$i").mkString(" ")
    val t1 = words(1, 50) // 50 tokens, duplicated across docs 1 and 2
    val t3 = words(100, 195) // 96 tokens, unique
    val dir = plantDocs(Seq(1L -> t1, 2L -> t1, 3L -> t3))
    val out = queries.ExtQueries.queries("qx92_dedup_survivorship")(
      spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == 3L, "n_docs")
    assert(r.getLong(2) == 2L, "survivors: doc 1 (cluster rep) + doc 3")
    assert(r.getLong(3) == 2L * t1.length + t3.length, "chars_total")
    assert(r.getLong(4) == t1.length.toLong, "chars_removed = the loser")
    assert(r.getLong(5) ==
      1000000L * t1.length / (2L * t1.length + t3.length), "removed_ppm")

    // qp9 over the same lake: survivors are 50 and 96 tokens
    // 50 -> 2 chunks (50 + 2 = 52 toks), 96 -> 2 chunks (64 + 48 = 112)
    val p = queries.ExtQueries.queries("qp9_chunked_curation")(spark, dir)
      .collect()
    assert(p.length == 1)
    val pr = p(0)
    assert(pr.getLong(1) == 2L, "n_docs_kept")
    assert(pr.getLong(2) == 146L, "n_toks = 50 + 96")
    assert(pr.getLong(3) == 4L, "n_chunks = 2 + 2")
    assert(pr.getLong(4) == 164L, "chunk_toks = 52 + 112")
  }

  // ---- qz70: water level by hand ---------------------------------------------

  test("qz70 water-filling: caps {10, 20, 100} with budget 65 fill the " +
    "two small sources and cap the big one at the hand-computed level") {
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val dir = tempDir("r13wf").toString
    Seq((1L, words(10), "srcA"), (2L, words(20), "srcB"),
      (3L, words(100), "srcC"))
      .toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // total 130, T = 65; sorted caps [10, 20, 100]: k*=2 (30 + 1·20 ≤ 65),
    // level = (65 − 30) div 1 = 35 → allocs [10, 20, 35], Σ = 65
    val out = queries.ExtQueries.queries("qz70_budget_waterfill")(
      spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("srcA", 10L, 10L, true),
      ("srcB", 20L, 20L, true),
      ("srcC", 100L, 35L, false)), out.toSeq.toString)
  }

  // ---- q66: grouping-set invariants on the real lake -------------------------

  test("q66 grouping sets: one Expand pass; the three set totals agree " +
    "with each other and with the raw count") {
    val df = SparkEntry.queries("q66_grouping_sets")(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("Expand"))
    val rows = df.collect()
    val total = Tables.events(spark, sfDir).count()
    def sumN(gid: Long) =
      rows.filter(_.getLong(2) == gid).map(_.getLong(3)).sum
    assert(sumN(0L) == total, "finest set covers every event")
    assert(sumN(1L) == total, "event_type set covers every event")
    assert(sumN(2L) == total, "dow set covers every event")
  }
}
