package graft

import org.apache.spark.sql.functions._

/** Bucketed-layout co-location: the write-once-shuffle-never contract. */
class LayoutSpec extends SparkTestBase {

  test("same-bucketed tables join AND aggregate with zero exchanges") {
    val events = Tables.events(spark, sfDir)
    Layout.writeBucketed(events.select("event_id", "user_id", "ts", "value"),
      "ev_bucketed", "user_id", buckets = 8, sortCols = Seq("user_id"))
    Layout.writeBucketed(
      events.groupBy("user_id").agg(count(lit(1)).as("n_total")),
      "ag_bucketed", "user_id", buckets = 8, sortCols = Seq("user_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_bucketed")
        .join(spark.table("ag_bucketed"), "user_id")
      val jp = joined.queryExecution.executedPlan.toString
      // the join would normally be SMJ with two shuffles; bucketing
      // satisfies the distribution on both sides -> no exchange at all
      assert(jp.contains("SortMergeJoin"), jp)
      assert(!jp.contains("Exchange hashpartitioning"), jp)
      assert(joined.count() == events.count())
      // keyed aggregation on the bucketed table also runs exchange-free
      val agg = spark.table("ev_bucketed")
        .groupBy("user_id").agg(sum("value").as("s"))
      val ap = agg.queryExecution.executedPlan.toString
      assert(!ap.contains("Exchange hashpartitioning"), ap)
      assert(agg.count() == events.select("user_id").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
      spark.sql("DROP TABLE IF EXISTS ag_bucketed")
    }
  }

  /** Rows the parquet scan actually produced (post row-group pruning) —
    * the honest data-skipping metric; plan strings can't show it. */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.get
  }

  test("z-order layout prunes a 2-D box predicate a single-dim sort " +
    "cannot (multi-dimensional data skipping)") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value")
    val tmp = tempDir("zorder").toString
    val zPath = s"$tmp/z"
    val linPath = s"$tmp/lin"
    Layout.writeZOrder(ev, "value", "user_id", zPath, files = 64, bits = 8)
    // baseline: same file count, clustered on value alone
    ev.repartitionByRange(64, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").parquet(linPath)

    // a box that is WIDE on the sorted dim (middle half of value — the
    // baseline's lead-column pruning only halves the scan) and NARROW on
    // the unsorted dim (1/8 of user_id — invisible to the baseline's
    // min/max stats, every value-sorted file spans the full user range).
    // Tile geometry: 64 files ⇒ ~1/8-side Morton tiles, so the z layout
    // prunes on BOTH dims and reads ~1/6 of what the baseline reads.
    val Array(vLo, vHi) = ev.stat.approxQuantile("value",
      Array(0.25, 0.75), 0.001)
    val Array(uLo, uHi) = ev.stat.approxQuantile("user_id",
      Array(0.50, 0.625), 0.001)
    def box(df: org.apache.spark.sql.DataFrame) = df
      .where(col("value") >= vLo && col("value") < vHi &&
        col("user_id") >= uLo.toLong && col("user_id") < uHi.toLong)

    val zq = box(spark.read.parquet(zPath)).select("event_id")
    val lq = box(spark.read.parquet(linPath)).select("event_id")
    val zRows = scannedRows(zq)
    val lRows = scannedRows(lq)
    // identical answers...
    assert(zq.collect().map(_.getLong(0)).sorted.toSeq ===
      lq.collect().map(_.getLong(0)).sorted.toSeq)
    // ...but the z layout reads a fraction of the rows: the value-sorted
    // baseline prunes on value only (~1/8 of files), the z layout prunes
    // on both dims. 2× headroom keeps the assertion robust to tile edges.
    assert(zRows * 2 < lRows,
      s"z-order scanned $zRows rows vs linear $lRows — no 2-D skipping")
  }
}
