package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meos.Assembly
import graft.queries.{CoreQueries, ExtQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The whole `ais_to_db` pipeline (reference
    * `meos-polars/examples/ais_to_db.rs:118-140` + trajectory assembly
    * `:199`) as ONE declarative DataFrame expression: scan → project →
    * group-by-entity → assemble trajectory (sort/dedupe inside the UDAF) →
    * HAVING size ≥ k → sort by length → limit.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    // by-key assembly behind one exchange — the declared path (each scan
    // task folds its share of an entity into one run map-side; SkewSpec-
    // and AssemblyPropSpec-proven equal to single-phase)
    Assembly.tfloatAssembleByKey(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      col("user_id"), unix_micros(col("ts")), col("event_id"), col("value"))
      .where(col("s.n") >= 5)
      .select(col("k").as("user_id"), col("s.n").as("n_posits"),
        timestamp_micros(element_at(col("s.t"), 1)).as("start_ts"),
        timestamp_micros(element_at(col("s.t"), -1)).as("end_ts"),
        Assembly.tfloatSeq(col("s")).as("trip"))
      .orderBy(desc("n_posits"), col("user_id"))
      .limit(100)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ExtQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = CoreQueries.oracle ++ ExtQueries.oracle
}
