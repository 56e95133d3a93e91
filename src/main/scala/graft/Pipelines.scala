package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.meos.{Assembly, MeosFunctions, Temporal}
import graft.sources.TripSink

/** End-to-end pipelines — the reference's two entry points as single
  * declarative plans (SURVEY.md §3.1/§3.2): both `ais_to_db` and
  * `04_to_file` share one engine path here, proving the lifecycle claim.
  */
object Pipelines {

  /** scan → project → group-by-vessel → assemble (dedupe/monotonic inside
    * the aggregate) → HAVING min-trip-size → per-vessel trip struct with
    * vessel-type last-value (A7: deterministic `max_by`) —
    * the shared core of both reference pipelines.
    *
    * One scan, one aggregation, like the reference's single pass per
    * vessel (`04_to_file.rs:88-114`: one map of instants, one of vessel
    * types). Assembly goes through the by-key path behind one exchange
    * (property-checked equal to single-phase): each CSV scan task folds
    * its share of a vessel's posits into one sorted run before the
    * exchange, so the "mega-vessel" case — one MMSI carrying a huge share
    * of the posits — ships a run per task, and the reducer merges them
    * into the trip (`maxTripSize` bounds what it holds). The vessel type
    * rides in the same buffer as the carried last value,
    * `max_by(vt, struct(t, seq))`. A posit without an MMSI belongs to no
    * vessel and is dropped.
    *
    * Input: canonical posit frame (mmsi, t, lat, lon, vt) from
    * [[graft.sources.AisCsv]] or any equivalent projection.
    */
  def assembleTrips(posits: DataFrame, minTripSize: Int = 1,
                    maxTripSize: Int = 0): DataFrame = {
    // content-derived tiebreak: stable across runs and partitionings
    // (unlike monotonically_increasing_id); rows identical in content sort
    // identically, so any winner is the same row
    val withTie = posits.where(col("mmsi").isNotNull).withColumn("seq",
      xxhash64(col("t"), col("lon"), col("lat"), col("vt")))
    Assembly.tpointAssembleByKey(withTie,
      col("mmsi"), unix_micros(col("t")), col("seq"),
      col("lon"), col("lat"), maxSize = maxTripSize,
      last = Some(col("vt")))
      .where(col("s.n") >= minTripSize)
      .select(col("k").as("mmsi"), col("last").as("vt"), col("s"),
        Assembly.tpointVal(col("s")).as("trip"))
  }

  /** `04_to_file` (§3.2): trips → JSON-lines `{"id":…,"vt":…,"json":…}`
    * with hex-WKB or MF-JSON payload (`04_to_file.rs:131-144`). */
  def aisToFile(posits: DataFrame, path: String, minTripSize: Int = 1,
                asMfJson: Boolean = false): DataFrame = {
    val trips = assembleTrips(posits, minTripSize)
    val payload: Column =
      if (asMfJson) MeosFunctions.tgeompointAsMfJson(col("trip"))
      else MeosFunctions.tgeompointAsHexWkb(col("trip"))
    TripSink.writeJsonLines(trips, col("mmsi"), col("vt"), payload, path)
    trips
  }
}
