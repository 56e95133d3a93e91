package graft

/** Empty-input robustness: at 100 TB an operator routinely sees
  * zero-row inputs — a partition pruned to nothing, a filter that
  * matches nothing, a cold-start table. Every declared query must plan
  * and execute against completely empty tables and return an empty
  * result, not throw (driver-side `.collect()(0)` on an empty aggregate,
  * a null median, an empty k-means init are the classic failure modes
  * this pins down). */
class EmptyInputSpec extends SparkTestBase {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty").toString
    // events is stored as timestamp[ns]; read it the way Tables does (as
    // nanos-long) so the empty copy keeps a `ts div 1000`-compatible type
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  // qc2's input is its committed literal case table, not the data dir —
  // on empty tables it still (correctly) encodes all golden cases.
  // qz46 is ANALYZE: a profile of an empty table is one row PER COLUMN
  // with n_rows = 0 (that's what a planner wants to read), not 0 rows.
  // q87 is an UNGROUPED count — "zero trips landed" is one row of 0,
  // the correct empty-lake answer for a COUNT(*)
  // q89 likewise: one row of (NULL, NULL, 0) — the ungrouped-aggregate
  // empty-input contract
  private val literalDriven = Map(
    "qc2_codec_golden" -> 10L,
    "qz46_table_profile" -> 5L,
    "q87_envelope_count" -> 1L,
    "q89_envelope_minmax" -> 1L,
    "q94_envelope_limit" -> 1L)

  test("every declared query executes on empty tables and returns 0 rows") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, emptyDir).count()
          val want = literalDriven.getOrElse(name, 0L)
          if (n == want) None
          else Some(s"$name: expected $want rows, got $n")
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
