package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Stage, Tables}
import graft.meos.{Assembly, Boxes}

/** The declared t2 query set (SURVEY.md §5.3): each key has a Spark
  * implementation here and an ANSI-SQL DuckDB twin in [[oracle]]. `events`
  * plays the AIS role (user_id≈MMSI, ts≈BaseDateTime, value≈coordinate).
  *
  * Determinism discipline: every query ends in an ORDER BY over a unique
  * key set, aggregates avoid order-dependent float summation (doubles are
  * only min/max'd or passed through; money sums go through decimal), and
  * "last value" uses explicit (ts, event_id) ordering, never `last()`.
  */
object CoreQueries {

  private val Cut = "timestamp '2024-01-15 00:00:00'"

  // q88's per-invocation temp-view names (ADVICE r14: no fixed-name
  // session-catalog races)
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** One envelope line per user: the q57 trip pipeline's v2-write
    * input. `vt` carries a deterministic 3-way type split (id mod 3,
    * 1-based) so the grouped aggregate-pushdown path (q90) has real
    * groups to roll up; no consumer decodes semantics from vt. */
  private def envelopeTrips(s: SparkSession, dir: String): DataFrame = {
    import graft.meos.{Assembly, NativeExpressions}
    val asm = Assembly.tpointAssemble()
    Tables.events(s, dir)
      .withColumn("y", length(col("props")).cast("double"))
      .groupBy("user_id")
      .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
        col("y")).as("st"))
      .select(col("user_id").as("id"),
        (col("user_id") % 3L + 1L).cast("int").as("vt"),
        NativeExpressions.tgeompointAsHexWkb(
          Assembly.tpointVal(col("st"))).as("json"))
  }

  /** The per-dir staged DSv2 envelope (q57's v2-written trips) — shared
    * by q57 (full read-back), q84 (pushed-filter read) and q87/q89/q90
    * (pushed aggregates). The v2 write (per-task rename-commit, bytes
    * pinned identical to the legacy text sink by TripSinkSpec) feeds
    * the v2 reads; a bench run re-measures the read side against one
    * staged write. */
  private def stagedEnvelope(s: SparkSession, dir: String): String =
    Stage.dir("q57-envelope", dir) { d =>
      envelopeTrips(s, dir).write.format("trip-envelope")
        .mode("overwrite").save(d)
    }

  /** q91's RANGE-CLUSTERED envelope (repartitionByRange on id before
    * the v2 write): each sink file covers a disjoint id slice, so the
    * commit-time _idindex.json gives the scan's runtime filtering
    * real skipping power — the layout a producer that expects
    * key-pruned reads writes on purpose (the envelope analog of
    * sorting a parquet table by its join key before publishing). The
    * hash-unclustered q57 staging would be index-covered too, but
    * every file's [min, max] spans the whole id space, so nothing
    * could ever prune — separate staging keeps both layouts honest. */
  private def stagedEnvelopeRanged(s: SparkSession, dir: String): String =
    Stage.dir("q91-envelope", dir) { d =>
      envelopeTrips(s, dir).repartitionByRange(8, col("id"))
        .write.format("trip-envelope").mode("overwrite").save(d)
    }

  /** The LINEAR pair-comparison segment frame shared by q104/q107: per
    * merged-timeline segment [t1, t2] of each pair (no posit of either
    * side strictly inside), the endpoint numerators of a(t) − b(t)
    * over the common denominator Da·Db, all in DECIMAL(38,0).
    *
    * Brackets come from four RANGE-frame IGNORE-NULLS fills over TWO
    * frame specs of the pair window (one window exec each): prev =
    * last side posit at tus ≤ t, next = first side posit at tus > t —
    * so the side's segment containing [t1, t2] is unique and both
    * endpoint numerators share its denominator. Columns: pair_id, dt,
    * n1, n2, ss = (n2 − n1)/dt (the dt-cancelled crossing
    * denominator), dadb = Da·Db (the value-scale denominator).
    * Magnitudes: |n| ≤ ~1.2·10⁶·(2.6·10¹²)² ≈ 10³¹ ≪ 10³⁸. */
  private def pairLinearSegments(s: SparkSession, dir: String,
                                 withY: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("tus"), col("event_id"))
    val posits = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"),
        floor(col("value") * 1000).cast("long").as("vm"),
        // the second plane coordinate (q80/q92/q93's convention)
        length(col("props")).cast("long").as("ym"))
      .withColumn("pt", lag("tus", 1).over(wSeq))
      .where(col("pt").isNull || col("pt") =!= col("tus"))
      .withColumn("pair_id", expr("(user_id + 1) div 2"))
      .withColumn("side", col("user_id") % 2L)
    val wOrd = Window.partitionBy("pair_id")
      .orderBy(col("tus"), col("user_id"), col("event_id"))
    val wPrev = Window.partitionBy("pair_id").orderBy(col("tus"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("pair_id").orderBy(col("tus"))
      .rangeBetween(1L, Window.unboundedFollowing)
    def prevOf(sd: Long, c: String) =
      last(when(col("side") === sd, col(c)), ignoreNulls = true)
        .over(wPrev)
    def nextOf(sd: Long, c: String) =
      first(when(col("side") === sd, col(c)), ignoreNulls = true)
        .over(wNext)
    val dec = "DECIMAL(38,0)"
    // endpoint numerator of (a − b) over the common denominator
    // Da·Db, at instant `at`: a's exact value·Da is pa_v·Da +
    // Δva·(at − pa_t) — an integer because merged instants bracket
    // inside both segments
    def num(at: String) =
      s"""((CAST(pa_v AS $dec) * (na_t - pa_t) +
         |  CAST(na_v - pa_v AS $dec) * ($at - pa_t)) * (nb_t - pb_t) -
         | (CAST(pb_v AS $dec) * (nb_t - pb_t) +
         |  CAST(nb_v - pb_v AS $dec) * ($at - pb_t)) * (na_t - pa_t))"""
        .stripMargin.replaceAll("\n", " ")
    // the y-coordinate numerator reuses the SAME brackets/denominators
    // (the bracket TIMES are per-side, shared across coordinates);
    // only the four value fills differ
    def numY(at: String) =
      s"""((CAST(pa_yv AS $dec) * (na_t - pa_t) +
         |  CAST(na_yv - pa_yv AS $dec) * ($at - pa_t)) * (nb_t - pb_t) -
         | (CAST(pb_yv AS $dec) * (nb_t - pb_t) +
         |  CAST(nb_yv - pb_yv AS $dec) * ($at - pb_t)) * (na_t - pa_t))"""
        .stripMargin.replaceAll("\n", " ")
    // ONE select for all fills: withColumn chains interleave
    // Projects between the Window nodes, which defeats window
    // collapsing and plans one sequential O(n) window pass PER FILL; a
    // single projection groups them by frame spec — two Window
    // operators over one sort (plan-audited)
    val baseCols = Seq(col("pair_id"), col("tus"), col("user_id"),
      col("event_id"),
      prevOf(1L, "tus").as("pa_t"), prevOf(1L, "vm").as("pa_v"),
      prevOf(0L, "tus").as("pb_t"), prevOf(0L, "vm").as("pb_v"),
      nextOf(1L, "tus").as("na_t"), nextOf(1L, "vm").as("na_v"),
      nextOf(0L, "tus").as("nb_t"), nextOf(0L, "vm").as("nb_v"))
    val yCols = if (!withY) Nil else Seq(
      prevOf(1L, "ym").as("pa_yv"), prevOf(0L, "ym").as("pb_yv"),
      nextOf(1L, "ym").as("na_yv"), nextOf(0L, "ym").as("nb_yv"))
    val segs = posits
      .select(baseCols ++ yCols: _*)
      .withColumn("t2", lead("tus", 1).over(wOrd))
      .where(col("pa_t").isNotNull && col("pb_t").isNotNull &&
        col("na_t").isNotNull && col("nb_t").isNotNull &&
        col("t2").isNotNull)
      .withColumn("dt", col("t2") - col("tus"))
      .withColumn("n1", expr(num("tus")))
      .withColumn("n2", expr(num("t2")))
      .withColumn("ss", expr(
        s"CAST(na_v - pa_v AS $dec) * (nb_t - pb_t) - " +
          s"CAST(nb_v - pb_v AS $dec) * (na_t - pa_t)"))
      .withColumn("dadb", expr(
        s"CAST(na_t - pa_t AS $dec) * (nb_t - pb_t)"))
    if (!withY) segs
    else segs
      .withColumn("ny1", expr(numY("tus")))
      .withColumn("ny2", expr(numY("t2")))
  }

  /** q106's SINGLE-ID-PER-FILE envelope (one range partition per trip
    * id before the v2 write — the entity-per-file landing layout a
    * per-trip producer writes on purpose): the commit-time
    * `_idindex.json` then proves min == max for every file, which is
    * exactly the evidence the scan's reported KeyGroupedPartitioning
    * (capability #9) requires. envelopeTrips is one row per id, so
    * range-partitioning into |ids| partitions lands one id per task =
    * one id per sink file; if range sampling ever co-located two ids,
    * the scan simply declines to report and the query plans normally —
    * the optimization degrades, correctness never does. */
  private def stagedEnvelopeKeyed(s: SparkSession, dir: String): String =
    Stage.dir("q106-envelope", dir) { d =>
      // BOUNDED BY CONSTRUCTION (id < 128): one file per entity means
      // one TASK per entity on the read side, and a corpus-
      // proportional entity count turns the keyed scan into a task-
      // overhead benchmark (1500 two-KB files at sf0.1 read slower
      // than the whole table) — which is the layout's pathology, not
      // the capability's. Real per-entity landing zones carry big
      // per-entity files; the slice keeps the file grain fixed at any
      // corpus size while the plan shape (key-grouped, zero exchange)
      // stays exactly what the capability promises.
      val trips = envelopeTrips(s, dir).where(col("id") < 128L)
      val n = math.max(trips.count().toInt, 1)
      trips.repartitionByRange(n, col("id"))
        .write.format("trip-envelope").mode("overwrite").save(d)
    }

  // q108's keyed DIMENSION staging (same 128 ids as q106's fact side,
  // different payload)
  private def stagedEnvelopeKeyedDim(s: SparkSession, dir: String)
      : String =
    Stage.dir("q108-envelope-dim", dir) { d =>
      val trips = envelopeTrips(s, dir).where(col("id") < 128L)
        .select(col("id"), (col("vt") + 7).cast("int").as("vt"),
          concat(lit("D"), col("id")).as("json"))
      val n = math.max(trips.count().toInt, 1)
      trips.repartitionByRange(n, col("id"))
        .write.format("trip-envelope").mode("overwrite").save(d)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = q42 ++ Map(
    // q108 — DSv2 STORAGE-PARTITIONED SORT-MERGE JOIN (capability #10
    // composed with #9 — the FULL bucketed-and-sorted analog of q55's
    // layout join, for the connector): both sides are single-id-per-
    // file layouts over the same 128 trip ids, both scans report
    // KeyGroupedPartitioning(identity(id)) AND ordering [id ASC]
    // (honest per file: all rows share the id), so the merge-hinted
    // equi-join plans with NO exchange and NO sort — Spark zips the
    // co-located file partitions pairwise by partition key
    // (Round16Spec pins the SortMergeJoin / zero-Exchange / zero-Sort
    // plan). At 100 TB: joining two entity-aligned landing zones
    // without re-shuffling either.
    "q108_envelope_spj_join" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val fact = s.read.format("trip-envelope")
        .load(stagedEnvelopeKeyed(s, dir))
        .select(col("id"),
          MeosFunctions.tgeompointNumInstants(
            NativeExpressions.tgeompointFromHexWkb(col("json")))
            .cast("long").as("n"))
      val dim = s.read.format("trip-envelope")
        .load(stagedEnvelopeKeyedDim(s, dir))
        .select(col("id"), col("vt").cast("long").as("vt_dim"),
          col("json").as("label"))
      fact.hint("merge").join(dim, "id")
        .select(col("id").as("user_id"), col("n"), col("vt_dim"),
          col("label"))
        .orderBy("user_id")
    }),

    // q106 — DSv2 REPORTED PARTITIONING (the connector's 9th
    // capability — VERDICT r15 #5, the connector analog of q55's
    // bucketed no-shuffle join): on the one-id-per-file staging the
    // commit-time id index proves every file single-id, the scan
    // reports KeyGroupedPartitioning(identity(id)) with each
    // partition carrying its id as the partition key, and this
    // id-grouped aggregation plans with ZERO exchange — the partial
    // and final aggregates fuse over the scan's own partitions
    // (Round16Spec pins the exchange-free plan and the multi-id
    // fallback). At 100 TB this is the difference between a metadata
    // no-op and re-shuffling a whole landing zone to answer "per
    // entity, how much landed".
    "q106_envelope_keyed_agg" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      // exec-side key-grouped planning is conf-gated; setting it here
      // is sticky for the session but inert elsewhere — no other scan
      // in the suite reports a partitioning, and the parquet/CSV legs
      // ride the v1 file-source path
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val path = stagedEnvelopeKeyed(s, dir)
      s.read.format("trip-envelope").load(path)
        .select(col("id"),
          MeosFunctions.tgeompointNumInstants(
            NativeExpressions.tgeompointFromHexWkb(col("json")))
            .cast("long").as("n"))
        .groupBy("id")
        .agg(count(lit(1)).as("n_lines"), sum("n").as("n_posits"))
        .select(col("id").as("user_id"), col("n_lines"),
          col("n_posits"))
        .orderBy("user_id")
    }),

    // q01 — S1/S2/P1/P6: scan, project, rename, null-default
    "q01_scan_project" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey").as("okey"),
        col("l_linenumber").as("lnum"),
        col("l_quantity").as("qty"),
        coalesce(col("l_returnflag"), lit("X")).as("rflag"))
        .orderBy("okey", "lnum")),

    // q02 — A1/A2/S6: group-by entity + count
    "q02_group_count" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id")),

    // q03 — A3/O3/F10: per-entity sorted timestamp array. The array is
    // serialized to a canonical comma-joined epoch-micros string in the
    // final projection (the driver's pandas compare can't sort raw array
    // columns); the sorted-collect is still the operator under test.
    "q03_group_sorted_times" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(sort_array(collect_list(unix_micros(col("ts")))).as("tl"))
        .select(col("user_id"),
          expr("array_join(transform(tl, x -> cast(x as string)), ',')")
            .as("ts_list"))
        .orderBy("user_id")),

    // q04 — F1/F2/A4: posit text "value user" (printf-pinned rendering)
    "q04_posit_concat" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        format_string("%.2f %d", col("value"), col("user_id")).as("posit"))
        .orderBy("event_id")),

    // q05 — P2/P3: HAVING count > k
    "q05_having_min_size" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 66)
        .orderBy("user_id")),

    // q06 — O1/O4: order groups by size
    "q06_sort_by_len" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("user_id"))),

    // q07 — O2/O6: sort + limit (TakeOrderedAndProject)
    "q07_limit_topk" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("user_id"))
        .limit(10)),

    // q08 — P5/W2: consecutive-duplicate-timestamp dedupe via lag
    "q08_dedup_consecutive" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("pts", lag("ts", 1).over(w))
        .where(col("pts").isNull || col("ts") =!= col("pts"))
        .select("event_id", "user_id", "ts")
        .orderBy("event_id")
    }),

    // q09 — P4/W1: monotonic-time filter (running max over arrival order)
    "q09_monotonic_filter" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("pm", max("ts").over(w))
        .where(col("pm").isNull || col("ts") > col("pm"))
        .select("event_id", "user_id", "ts")
        .orderBy("event_id")
    }),

    // q10 — §2.7: union of two filtered slices
    "q10_union_filter" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click").select("event_id", "event_type")
        .unionAll(
          ev.where(col("event_type") === "error")
            .select("event_id", "event_type"))
        .orderBy("event_id")
    }),

    // q11 — P7/W3: chunk each entity's posits into batches of 50
    "q11_chunk_batches" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("chunk", expr("(rn - 1) div 50"))
        .groupBy("user_id", "chunk")
        .agg(count(lit(1)).as("n"), min("ts").as("t0"), max("ts").as("t1"))
        .orderBy("user_id", "chunk")
    }),

    // q12 — A5/A6: trajectory assembly through the by-key path behind one
    // exchange (map-side: each task's posits of a key become one run that
    // keeps its ties; reduce-side: the runs merged, smallest tie per
    // timestamp) — the output is proven equal to single-phase assembly in
    // SkewSpec and AssemblyPropSpec
    "q12_trip_assembly" -> ((s, dir) => {
      Assembly.tfloatAssembleByKey(Tables.events(s, dir),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"))
        .select(col("k").as("user_id"),
          expr("array_join(transform(s.t, x -> cast(x as string)), ',')")
            .as("ts_list"),
          expr("array_join(transform(s.v, x -> cast(x as string)), ',')")
            .as("v_list"),
          col("s.n").as("n"))
        .orderBy("user_id")
    }),

    // q13 — A9/F9/O5: per-entity value×time extent (TBox)
    "q13_tbox_agg" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(Boxes.tboxAgg(col("value"), col("ts")).as("box"))
        .select(col("user_id"),
          col("box.vmin").as("vmin"), col("box.vmax").as("vmax"),
          col("box.tmin").as("tmin"), col("box.tmax").as("tmax"))
        .orderBy("user_id")),

    // q14 — A10: spatial(2-D)+time extent (STBox) per order
    "q14_stbox_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("okey"))
        .agg(Boxes.stboxAgg(col("l_quantity"), col("l_extendedprice"),
          col("l_shipdate")).as("box"))
        .select(col("okey"),
          col("box.xmin").as("xmin"), col("box.xmax").as("xmax"),
          col("box.ymin").as("ymin"), col("box.ymax").as("ymax"),
          col("box.tmin").as("tmin"), col("box.tmax").as("tmax"))
        .orderBy("okey")),

    // q15 — J2/J3/J5: self-join on box overlap, via the scale-safe bucketed
    // path: explode each box to the time buckets it spans, equi-join on the
    // bucket id (a shuffle on ints — no BroadcastNestedLoopJoin), exact
    // predicate + dedup after. Proven equal to the nested-loop join in
    // SkewSpec; survives 100× entities where the O(|A|×|B|) BNLJ would not.
    "q15_box_overlaps" -> ((s, dir) => {
      // lazy lineage cut: both sides of the self-join reuse the
      // per-entity box aggregation instead of scanning+aggregating events
      // twice (one tiny row per entity — cheap to materialize; reliable
      // checkpoint when a dir is configured — see Materialize)
      val b = graft.Materialize.cut(
        Tables.events(s, dir).groupBy("user_id")
          .agg(Boxes.tboxAgg(col("value"), col("ts")).as("box"))
          .select(col("user_id").as("id"), col("box")))
      Boxes.tboxOverlapJoinBucketed(b, b, java.time.Duration.ofDays(7),
        (a, c) => a < c)
        .select(col("idA").as("u1"), col("idB").as("u2"))
        .orderBy("u1", "u2")
    }),

    // q16 — J1/J4: entity boxes containing a probe box
    "q16_box_contains" -> ((s, dir) => {
      val probe = Boxes.tbox(lit(50.0), lit(150.0),
        expr("timestamp '2024-01-10 00:00:00'"),
        expr("timestamp '2024-01-20 00:00:00'"))
      Tables.events(s, dir).groupBy("user_id")
        .agg(Boxes.tboxAgg(col("value"), col("ts")).as("box"))
        .where(Boxes.tboxContains(col("box"), probe))
        .select("user_id")
        .orderBy("user_id")
    }),

    // q17 — A7/A8: start timestamp + deterministic last event_type
    "q17_start_ts_last_type" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(desc("ts"), desc("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(min("ts").as("start_ts"),
          max(when(col("rn") === 1, col("event_type"))).as("last_type"))
        .orderBy("user_id")
    }),

    // q18 — F8: temporal equality of two independent q12 derivations
    "q18_temporal_eq" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val asm = Assembly.tfloatAssemble()
      val viaUdaf = ev.groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"))
          .as("s"))
        .select(col("user_id"),
          expr("transform(s.t, x -> timestamp_micros(x))").as("ts1"),
          col("s.v").as("v1"))
      val w = Window.partitionBy("user_id", "ts").orderBy("event_id")
      val viaCollect = ev
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("value"))))
          .as("ps"))
        .select(col("user_id"),
          expr("transform(ps, p -> p.ts)").as("ts2"),
          expr("transform(ps, p -> p.value)").as("v2"))
      viaUdaf.join(viaCollect, "user_id")
        .select(col("user_id"),
          (col("ts1") === col("ts2") && col("v1") === col("v2")).as("eq"))
        .orderBy("user_id")
    }),

    // q19 — S4 merge semantics end-to-end: assemble each time slice
    // independently, merge-append the trajectories (the upsert's
    // update(stored, excluded) in pure array expressions), and the result
    // must equal whole-table assembly (q12's oracle)
    "q19_merge_trips" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val asm = Assembly.tfloatAssemble()
      // ONE scan + ONE shuffle: the two slices are the same UDAF with
      // complementary FILTER clauses (SQL `agg FILTER (WHERE …)`) in a
      // single groupBy — the old form scanned events once per slice, and
      // a slice-as-grouping-key form gets its post-agg filters pushed
      // back down by Catalyst, re-splitting the scan. A side with no
      // rows finishes as empty arrays, which mergeTripArrays already
      // treats as the upsert's missing side.
      val asmArgs = Seq(unix_micros(col("ts")), col("event_id"), col("value"))
      ev.groupBy("user_id")
        .agg(
          org.apache.spark.sql.GraftShims.aggFilter(
            asm, asmArgs, col("ts") < expr(Cut)).as("st"),
          org.apache.spark.sql.GraftShims.aggFilter(
            asm, asmArgs, col("ts") >= expr(Cut)).as("inc"))
        .select(col("user_id"),
          graft.sources.TripSink.mergeTripArrays(
            col("st.t"), col("st.v"), col("inc.t"), col("inc.v")).as("m"))
        .select(col("user_id"),
          expr("array_join(transform(m.t, x -> cast(x as string)), ',')")
            .as("ts_list"),
          expr("array_join(transform(m.v, x -> cast(x as string)), ',')")
            .as("v_list"),
          col("m.n").as("n"))
        .orderBy("user_id")
    }),

    // q20 — S4/J6: upsert-merge of two time slices (full-outer + coalesce)
    "q20_upsert_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // ONE scan + ONE shuffle (was: one scan per slice + full-outer):
      // per-slice aggregates become null-skipping conditional aggregates
      // in a single groupBy; the merge itself stays the upsert's
      // coalesce/least/greatest over stored-vs-incoming columns (a slice
      // with no rows is null/0 exactly like the old missing join side)
      val isOld = col("ts") < expr(Cut)
      ev.groupBy("user_id")
        .agg(
          count(when(isOld, 1)).as("n_o"),
          min(when(isOld, col("ts"))).as("tmin_o"),
          max(when(isOld, col("ts"))).as("tmax_o"),
          count(when(!isOld, 1)).as("n_n"),
          min(when(!isOld, col("ts"))).as("tmin_n"),
          max(when(!isOld, col("ts"))).as("tmax_n"))
        .select(col("user_id"),
          (coalesce(col("n_o"), lit(0L)) + coalesce(col("n_n"), lit(0L)))
            .as("n"),
          least(coalesce(col("tmin_o"), col("tmin_n")),
            coalesce(col("tmin_n"), col("tmin_o"))).as("tmin"),
          greatest(coalesce(col("tmax_o"), col("tmax_n")),
            coalesce(col("tmax_n"), col("tmax_o"))).as("tmax"))
        .orderBy("user_id")
    }),

    // q23 — A6 on the 2-D point path: tgeompoint assembly (x=value,
    // y=props length) with the same dedupe/sort semantics as q12, also
    // through the by-key path
    "q23_tpoint_assembly" -> ((s, dir) => {
      Assembly.tpointAssembleByKey(
        Tables.events(s, dir)
          .withColumn("y", length(col("props")).cast("double")),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"), col("y"))
        .select(col("k").as("user_id"),
          expr("array_join(transform(s.t, x -> cast(x as string)), ',')")
            .as("ts_list"),
          expr("array_join(transform(s.x, x -> cast(x as string)), ',')")
            .as("x_list"),
          expr("array_join(transform(s.y, x -> cast(x as string)), ',')")
            .as("y_list"),
          col("s.n").as("n"))
        .orderBy("user_id")
    }),

    // q21 — join family: multi-way equi-join + decimal-stable revenue agg
    "q21_join_revenue" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * " +
            "(1 - cast(l_discount as decimal(18,2)))) as double)")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // q24 — hierarchical agg (rollup): not in the reference (§2.4 notes
    // Spark built-ins cover it); exercised for engine completeness
    "q24_rollup_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // q25 — as-of semantics composed from windows (no custom strategy
    // needed): for every event, the latest signup time of the same user
    // at or before it
    "q25_asof_last_signup" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("asof_signup",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .select("event_id", "user_id", "ts", "asof_signup")
        .orderBy("event_id")
    }),

    // q26 — distinct aggregation (absent from the reference; §2.4 note)
    "q26_distinct_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // q27 — set algebra (§2.7: intersect/except are Spark built-ins)
    // (every user has every event type in this data, so the slices carry
    // value predicates to make the set algebra discriminating)
    "q27_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click" && col("value") > 400)
        .select("user_id")
        .intersect(
          ev.where(col("event_type") === "view").select("user_id"))
        .except(
          ev.where(col("event_type") === "error" && col("value") > 400)
            .select("user_id"))
        .orderBy("user_id")
    }),

    // q28 — exact interpolated percentiles (median/p90); both engines use
    // the same linear-interpolation definition over sorted doubles
    "q28_percentiles" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // q29 — trajectory analytics over assembled trips: duration, planar
    // path length, mean speed, max gap (all left-fold doubles → oracle
    // bit-parity)
    "q29_trip_stats" -> ((s, dir) => {
      val asm = Assembly.tpointAssemble()
      Tables.events(s, dir)
        .withColumn("y", length(col("props")).cast("double"))
        .groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
          col("y")).as("s"))
        .select(col("user_id"),
          graft.meos.Trajectory.durationSec(col("s.t")).as("duration_s"),
          graft.meos.Trajectory.pathLength(col("s.x"), col("s.y"))
            .as("path_len"),
          graft.meos.Trajectory.avgSpeed(col("s.x"), col("s.y"), col("s.t"))
            .as("avg_speed"),
          graft.meos.Trajectory.maxGapSec(col("s.t")).as("max_gap_s"))
        .orderBy("user_id")
    }),

    // q30 — sessionization: gap > 1h starts a new session (the relational
    // twin of Trajectory.gapSegments), then per-session rollup
    "q30_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("new_sess",
          when(col("us") - lag("us", 1).over(w) > 3600000000L ||
            lag("us", 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_sess").over(wRun))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n"), min("ts").as("t0"), max("ts").as("t1"))
        .orderBy("user_id", "session_id")
    }),

    // q31 — CUBE (all grouping-set shapes now covered with q24's ROLLUP)
    "q31_cube_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // q32 — range-frame window: rolling 1-hour event count per user
    "q32_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("n_1h", count(lit(1)).over(w))
        .select("event_id", "user_id", "n_1h")
        .orderBy("event_id")
    }),

    // q33 — scalar subquery: orders above the mean total, compared
    // multiplicatively in exact decimal (no float-division divergence)
    "q33_scalar_subquery" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val stats = o.agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).as("total"),
        count(lit(1)).as("n"))
      o.crossJoin(broadcast(stats))
        .where(col("o_totalprice").cast("decimal(18,2)") * col("n") >
          col("total"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
    }),

    // q34 — anti join (NOT EXISTS): customers with no high-value orders
    // (the key space is dense, so the anti side needs a predicate)
    "q34_not_exists_anti" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")),

    // q35 — string function battery (upper/replace/substr/length/LIKE)
    "q35_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir)
        .where(col("p_type").like("%ECONOMY%") ||
          col("p_name").like("%red%"))
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          regexp_replace(col("p_type"), " ", "_").as("type_u"),
          length(col("p_name")).cast("long").as("name_len"),
          substring(col("p_name"), 1, 5).as("name5"))
        .orderBy("p_partkey")),

    // q36 — TSet production under the oracle: assemble each entity's trip
    // (by-key path), split it at >= 1h gaps into maximal sub-sequences
    // (Trajectory.gapSegments — the sequence-set shape, tset.rs:10-13),
    // then roll up per segment
    "q36_gap_split" -> ((s, dir) =>
      // per-segment stats come out of the SAME linear pass as the gap
      // split (gapSegmentStats) — the round-2 form exploded one row per
      // POSIT and re-aggregated, paying a full-data-volume shuffle that
      // at 100 TB dwarfs the split itself; now the explode emits one row
      // per SEGMENT
      Assembly.tpointAssembleByKey(
        Tables.events(s, dir)
          .withColumn("y", length(col("props")).cast("double")),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"), col("y"))
        .select(col("k").as("user_id"),
          explode(graft.meos.Trajectory.gapSegmentStats(
            col("s.t"), col("s.x"), 3600.0)).as("g"))
        .select(col("user_id"), col("g.seg").cast("long").as("seg"),
          col("g.n").as("n"), col("g.t0").as("t0_us"),
          col("g.t1").as("t1_us"), col("g.xmin").as("xmin"),
          col("g.xmax").as("xmax"))
        .orderBy("user_id", "seg")),

    // qs1 — the STREAMING engine under the batch hash gate: trigger-once
    // file replay through watermark + flatMapGroupsWithState gap sessions
    // (StreamingAssembly), rolled up to q36's exact output shape and
    // checked against the SAME DuckDB oracle. Proves stream == batch on
    // real data as a CORRECTNESS row, not just a spec assertion.
    "qs1_stream_replay" -> ((s, dir) =>
      graft.streaming.StreamingReplay.gapSessionsReplay(s, dir)),

    // qs2 — second streaming path under the hash gate: the streaming
    // backward as-of join replayed in time order and checked against
    // DuckDB's NATIVE ASOF JOIN (q37's oracle — an independent
    // implementation of the semantics, not a mirror of the state logic)
    "qs2_stream_asof" -> ((s, dir) =>
      graft.streaming.StreamingReplay.asofReplay(s, dir)),

    // qs3 — third streaming path under the hash gate, covering the one
    // streaming operator family qs1/qs2 don't: the built-in WATERMARKED
    // TUMBLING-WINDOW aggregation (watermark-driven Append finalization,
    // not custom state). Day windows × event_type, count + integer-ized
    // value sum; the oracle is the equivalent date_trunc GROUP BY.
    "qs3_stream_window" -> ((s, dir) =>
      graft.streaming.StreamingReplay.windowedAggReplay(s, dir)),

    // qs19 — nineteenth streaming path: Trigger.AvailableNow, the
    // backfill/batch-drain trigger (self-planned micro-batch sequence +
    // self-termination) running qs3's exact windowed aggregation — the
    // trigger machinery differs, the emitted set must not.
    "qs19_available_now" -> ((s, dir) =>
      graft.streaming.StreamingReplay.availableNowReplay(s, dir)),

    // qs20 — twentieth streaming path: TWO file streams (event_id
    // parity split, each origin-tagged) unioned BEFORE one watermarked
    // day-window count — the multi-source ingestion shape; the union
    // watermark advances with event time seen across both sources, so
    // each staged source carries its own sentinel heartbeat. Oracle:
    // the batch GROUP BY with the parity tag recomputed.
    "qs20_stream_union" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamUnionReplay(s, dir)),

    // q52 — the ORC source/sink surface (S7): events staged once
    // through a FULL write-orc → read-orc roundtrip (timestamps,
    // strings, doubles), then filtered + aggregated off the ORC scan —
    // the same columnar lossless-roundtrip contract the parquet legs
    // get, on Spark's second native columnar format. The type-slice
    // predicate is pushed into the ORC reader (PushedFilters); the
    // oracle reads the ORIGINAL parquet, so any roundtrip loss
    // (timestamp truncation, encoding drift) hash-fails.
    "q52_orc_roundtrip" -> ((s, dir) => {
      val staged = Stage.dir("q52-orc", dir) { d =>
        graft.Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .write.mode("overwrite").orc(d)
      }
      s.read.orc(staged)
        .where(col("event_type") =!= "error")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"),
          min(unix_micros(col("ts"))).as("t0_us"),
          max(unix_micros(col("ts"))).as("t1_us"))
        .orderBy("event_type")
    }),

    // q53 — SCHEMA EVOLUTION through the parquet reader: a table whose
    // early files were written by a v1 producer (no `value`, no
    // `ingest_v`) and whose later files carry the evolved schema is
    // the NORMAL state of a 100 TB landing zone — producers upgrade,
    // history is never rewritten. Staged as two real parquet
    // generations (event_id parity split), read back in ONE load with
    // mergeSchema=true: v1 rows surface NULL for the columns they
    // predate, and the aggregate prices exactly that (row counts vs
    // evolved-row counts vs value mass). The oracle recomputes from
    // the ORIGINAL table with the same parity rule, so any merge
    // misalignment (column matched by position instead of name, type
    // widened wrong) hash-fails.
    "q53_schema_evolution" -> ((s, dir) => {
      val base = Stage.dir("q53-evo", dir) { base =>
        val ev = graft.Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        // generation 1: the v1 producer — no value, no ingest_v
        ev.where(col("event_id") % 2 === 0)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"))
          .write.mode("overwrite").parquet(s"$base/gen1")
        // generation 2: the evolved producer — value + ingest_v
        ev.where(col("event_id") % 2 === 1)
          .withColumn("ingest_v", lit(2L))
          .write.mode("overwrite").parquet(s"$base/gen2")
      }
      s.read.option("mergeSchema", "true")
        .parquet(s"$base/gen1", s"$base/gen2")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          count(col("ingest_v")).as("n_evolved"),
          sum(when(col("ingest_v").isNotNull,
            floor(col("value") * 1000).cast("long")).otherwise(0L))
            .as("v_milli"))
        .orderBy("event_type")
    }),

    // qs21 — twenty-first streaming path: COMPLETE output mode (the
    // third and last mode; every other qs row is Append) + streaming
    // ORDER BY + LIMIT, which only Complete admits. The memory sink
    // replaces its table each trigger, so the final state equals the
    // batch aggregate — chunk timing decides only intermediate tables.
    "qs21_complete_topk" -> ((s, dir) =>
      graft.streaming.StreamingReplay.completeTopkReplay(s, dir)),

    // qs22 — twenty-second streaming path: UPDATE output mode (the
    // last of the three modes; Append everywhere else, Complete in
    // qs21). The memory sink accumulates per-key update HISTORY;
    // counts are monotone, so the per-key max-n row IS the final
    // state and must equal the batch aggregate for any chunking.
    "qs22_update_mode" -> ((s, dir) =>
      graft.streaming.StreamingReplay.updateModeReplay(s, dir)),

    // q58 — PIVOT surface (the q54 UNPIVOT's inverse): long-to-wide
    // reshape with an EXPLICIT value list — open-ended pivot needs a
    // distinct-values pre-pass (a scan Catalyst can't prune), so
    // production pivots declare their columns; missing cells are
    // coalesced to 0 for a deterministic frame. Desugars to one
    // conditional aggregation — exactly the twin.
    "q58_pivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val wide = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"), col("event_type"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(sum("vm"))
      wide.select(col("day") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("day")
    }),

    // q59 — LATERAL correlated subquery (the Spark 3.4+ decorrelation
    // surface: a per-row dependent subquery with its own ORDER BY +
    // LIMIT — "top 2 orders per customer" as the SQL a analyst writes,
    // not the window workaround). Catalyst decorrelates it into a
    // ranked join; DuckDB runs the same LATERAL natively.
    "q59_lateral_topk" -> ((s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("q59_customer")
      Tables.orders(s, dir).createOrReplaceTempView("q59_orders")
      s.sql(
        """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
          |FROM q59_customer c
          |JOIN LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM q59_orders
          |  WHERE o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey
          |  LIMIT 2) l
          |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey
          |""".stripMargin)
    }),

    // q60 — MAP-type surface (§2.8's one untouched complex-type family):
    // per-user (event_type → count) maps built with map_from_entries
    // over a deterministic sorted entry list, pruned with map_filter (a
    // codegen'd higher-order function over the map), exploded back to
    // rows. The map build/filter/explode machinery is the system under
    // test; the twin states the preserved SEMANTICS (GROUP BY + HAVING),
    // so a map that drops, duplicates, or reorders entries hash-fails.
    "q60_map_roundtrip" -> ((s, dir) => {
      val m = Tables.events(s, dir)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("event_type"), col("n"))))).as("m"))
      m.select(col("user_id"),
          explode(map_filter(col("m"), (_, v) => v >= 2)))
        .select(col("user_id"), col("key").as("event_type"),
          col("value").as("n"))
        .orderBy("user_id", "event_type")
    }),

    // q63 — TIME-INTERVAL window frame (the one frame type the window
    // family still lacked: q45 is rows/rank, the day-grain windows use
    // integer RANGE — this is RANGE BETWEEN INTERVAL over an actual
    // TIMESTAMP ordering): per event, how many of the SAME USER's
    // events fall in the trailing hour — the rate-limit / burst gauge
    // a sessionizer reads per row. Expressed in SQL (the frame syntax
    // is the surface); user-partitioned, so nothing global. The count
    // includes ties at the frame edge identically in both engines
    // (RANGE is value-based, inclusive bounds).
    "q63_interval_frame" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("q63_events")
      s.sql(
        """SELECT event_id, user_id, ts,
          |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
          |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |    AS BIGINT) AS n_trailing_1h
          |FROM q63_events
          |ORDER BY event_id""".stripMargin)
    }),

    // q64 — DYNAMIC partition pruning (q56 covers STATIC pruning; this
    // is the join-triggered variant that matters most at a 100 TB star
    // join): the fact is staged partitioned by ship YEAR with NO static
    // predicate on the partition column anywhere — the pruning value
    // set exists only inside the filtered orders dim, so Catalyst must
    // inject a DynamicPruningExpression subquery into the fact scan
    // (reusing the semi join's broadcast: zero extra passes). At scale
    // this is the difference between reading 2 of 7 year partitions
    // and reading all of them. Round13Spec pins `dynamicpruning` in
    // the fact scan's PartitionFilters; the oracle recomputes from the
    // raw table, so over- OR under-pruning hash-fails.
    "q64_dynamic_partition_prune" -> ((s, dir) => {
      // partitionBy of an empty frame emits no files (q56 rule): the
      // empty landing zone returns the typed empty result directly
      Stage("q64-dpp", dir) { d =>
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"),
            year(col("l_shipdate")).cast("long").as("yr"))
        if (li.isEmpty) None
        else {
          li.write.mode("overwrite").partitionBy("yr").parquet(d)
          Some(d)
        }
      } match {
        case None => Tables.empty(s, "yr BIGINT, n BIGINT, qty_milli BIGINT")
        case Some(staged) =>
          val dim = Tables.orders(s, dir)
            .where(col("o_orderdate") <
              lit("1997-01-01").cast("timestamp"))
            .select(year(col("o_orderdate")).cast("long").as("yr"))
          // explicit schema keeps the inferred partition column BIGINT
          // (inference would type the dir values INT and the join would
          // cast, blocking the pruner's partition-column match)
          s.read.schema("l_orderkey BIGINT, l_quantity DOUBLE, yr BIGINT")
            .parquet(staged)
            .join(dim, Seq("yr"), "left_semi")
            .groupBy("yr")
            .agg(count(lit(1)).as("n"),
              sum(floor(col("l_quantity") * 1000).cast("long"))
                .as("qty_milli"))
            .orderBy("yr")
      }
    }),

    // q65 — VARIANT ingest + shredded access (Spark 4's semi-structured
    // type — the shape a 100 TB JSON lake actually stores, vs qz62's
    // per-access get_json_object string path): parse_json runs ONCE in
    // the scan-stage projection (Round13Spec pins a single parse_json
    // site below the aggregate), then every field access is a typed
    // variant_get over the binary-encoded value — including a missing
    // path, which must yield NULL, not an error. The DuckDB twin
    // recomputes both paths from the raw JSON text.
    "q65_variant_props" -> ((s, dir) => {
      val parsed = Tables.events(s, dir)
        .select(col("event_type"), parse_json(col("props")).as("v"))
      parsed.select(col("event_type"),
          variant_get(col("v"), "$.k", "bigint").as("k"),
          variant_get(col("v"), "$.missing", "bigint").as("m"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("k_min"),
          max("k").as("k_max"), sum("k").as("k_sum"),
          sum(when(col("m").isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy("event_type")
    }),

    // q66 — GROUPING SETS with grouping_id (q24 covers ROLLUP, q31
    // CUBE; this is the ARBITRARY set list + the gid column a report
    // layer keys on): three explicit grouping sets over (event_type,
    // dow) in ONE Expand pass — at scale that is one shuffle producing
    // all three aggregates instead of three scans. No () grand-total
    // set, so an empty lake emits zero rows (the suite contract).
    // NULLS FIRST is explicit: Spark's ASC default, DuckDB's is LAST.
    "q66_grouping_sets" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("q66_events")
      s.sql(
        """WITH e AS (
          |  SELECT event_type,
          |    CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') % 7
          |      AS BIGINT) AS dow,
          |    CAST(floor(value * 1000) AS BIGINT) AS vm
          |  FROM q66_events)
          |SELECT event_type, dow,
          |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT)
          |    AS gid,
          |  CAST(count(*) AS BIGINT) AS n, CAST(sum(vm) AS BIGINT)
          |    AS v_milli
          |FROM e
          |GROUP BY GROUPING SETS ((event_type, dow), (event_type),
          |  (dow))
          |ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST"""
          .stripMargin)
    }),

    // q67 — per-group top-k as a first-class row (every leaderboard /
    // "top N per category" report): rank window + rk <= 3 filter. The
    // SCALE point is the plan, not the query: Catalyst rewrites the
    // filtered rank window into WindowGroupLimit, which prunes to k
    // rows per group MAP-SIDE before the window's shuffle — the
    // difference between shuffling 3·|groups| rows and the whole
    // aggregate. Round13Spec pins the WindowGroupLimit node.
    "q67_group_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(desc("n"), col("user_id"))
      Tables.events(s, dir)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .orderBy("event_type", "rk")
    }),

    // q68 — BINARY-FILE ingest (the way an image/audio lake actually
    // lands: a directory of opaque blobs, no schema): blobs staged one
    // file per document (executor-side writes — on a cluster the same
    // code targets shared storage), read back through Spark's
    // `binaryFile` format, identity gated via size + md5 against the
    // source table the blobs came from — a dropped, truncated, or
    // bit-flipped file hash-fails. The read is file-grain parallel and
    // column-pruned (selecting only length/path never loads content).
    "q68_binary_file_ingest" -> ((s, dir) => {
      val blobs = Tables.documents(s, dir)
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      Stage("q68-bin", dir) { d =>
        if (blobs.isEmpty) None
        else {
          blobs.foreachPartition {
            rows: Iterator[org.apache.spark.sql.Row] =>
              rows.foreach { r =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(d,
                    f"doc_${r.getLong(0)}%08d.bin"),
                  r.getString(1).getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
              }
          }
          Some(d)
        }
      } match {
        case None =>
          Tables.empty(s, "doc_id BIGINT, nbytes BIGINT, blob_md5 STRING")
        case Some(staged) =>
          s.read.format("binaryFile").load(staged)
            .select(
              regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
                .cast("long").as("doc_id"),
              col("length").as("nbytes"),
              md5(col("content")).as("blob_md5"))
            .orderBy("doc_id")
      }
    }),

    // q69 — NULL-SAFE join (<=>): the equality that treats NULL as a
    // value (one bucket) instead of three-valued unknown — what every
    // SCD/merge key comparison needs when keys can be absent. Both
    // sides derive a nullable key (NULLIF collapses one residue class
    // to NULL); the plain `=` join would DROP the null rows silently —
    // the twin (IS NOT DISTINCT FROM) hash-fails if the null bucket is
    // missing or mis-joined. Null-safe equality hash-partitions like
    // any key (NULL is one partition), so the join stays a plain
    // shuffled equi-join at scale — no range/cross fallback.
    "q69_null_safe_join" -> ((s, dir) => {
      val a = Tables.events(s, dir)
        .select(expr("NULLIF(user_id % 10, 0)").as("k"),
          col("event_id"))
        .groupBy("k").agg(count(lit(1)).as("n_events"))
      val b = Tables.orders(s, dir)
        .select(expr("NULLIF(o_custkey % 10, 0)").as("k"),
          col("o_orderkey"))
        .groupBy("k").agg(count(lit(1)).as("n_orders"))
      a.join(b, a("k") <=> b("k"), "full_outer")
        .select(coalesce(a("k"), b("k")).as("k"),
          col("n_events"), col("n_orders"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // q70 — UNION BY NAME across a schema drift (the q53 mergeSchema
    // story for the UNION path): generation 2 adds a column generation
    // 1 lacks; allowMissingColumns nulls it for the old rows instead
    // of failing or (worse) binding by POSITION. The twin is the
    // explicit NULL-padded UNION ALL. Scale shape: a union is free
    // (no shuffle) — only the rollup shuffles.
    "q70_union_by_name" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val gen1 = ev.where(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
      val gen2 = ev.where(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
      gen1.unionByName(gen2, allowMissingColumns = true)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L))
            .as("n_gen1"),
          sum("v_milli").as("v_milli"),
          sum(coalesce(col("user_id"), lit(0L))).as("user_sum"))
        .orderBy("event_type")
    }),

    // q71 — CDC CHANGELOG APPLY (latest-wins + tombstones): the batch
    // half of every lake-ingest story — a keyed changelog of
    // upserts (U) and deletes (D) collapsed to the live snapshot. The
    // changelog is derived deterministically from events (key =
    // event_id residue, version order = (ts, event_id), every 10th
    // version a tombstone); apply = keep each key's LAST version,
    // drop keys whose last op is D. Plan point: the rank-1 filter
    // rewrites to WindowGroupLimit, so each key is pruned to ONE row
    // per map partition BEFORE the shuffle — the latest-wins pass
    // shuffles ~|keys|·|partitions| rows, not |changelog|; the version
    // count is a separate partial agg (map-side combine) JOINED back at
    // key grain, never a count window riding the full row shuffle
    // (probe: that variant moved the whole 213 MB changelog at 100×;
    // this one moves 3 MB). Round13cSpec pins the node. The q62
    // empty-lake contract holds: no changelog → no snapshot.
    "q71_cdc_apply" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val log = Tables.events(s, dir)
        .select((col("event_id") % 4096L).as("k"),
          unix_micros(col("ts")).as("tus"), col("event_id"),
          when(col("event_id") % 10L === 7L, lit("D"))
            .otherwise(lit("U")).as("op"),
          floor(col("value") * 1000).cast("long").as("v_milli"))
      val counts = log.groupBy("k").agg(count(lit(1)).as("n_versions"))
      val w = Window.partitionBy("k")
        .orderBy(col("tus").desc, col("event_id").desc)
      log
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1 && col("op") === "U")
        .join(counts, "k")
        .select(col("k"), col("v_milli"), col("tus").as("last_tus"),
          col("n_versions"))
        .orderBy("k")
    }),

    // q72 — TIME-WEIGHTED AVERAGE (the MEOS twavg family): the
    // temporal aggregate that weights each observation by how LONG it
    // held, not how often it was sampled — the defining scalar of a
    // tfloat sequence (irregularly-sampled sensors make the plain mean
    // a lie). Per user over the q12-deduped posit sequence: step-
    // interpolation TWA (value holds until the next posit), linear-
    // interpolation TWA (trapezoid), total variation (the 1-D
    // cumulative-length analog), and duration. Float discipline =
    // qz31: values quantized to milli-BIGINT, every Σ v·Δt is integer
    // (order-independent across engines), the TWA itself is ONE double
    // division at the end. Scale shape: one shuffle on user_id; the
    // dedupe filter and the interval lead ride the SAME partitioning
    // (q08's consecutive-dedup rule), and the final rollup is a
    // partial agg over that co-partitioned stream.
    "q72_twavg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val wIv = Window.partitionBy("user_id").orderBy(col("tus"))
      val posits = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
      posits
        .withColumn("t2", lead("tus", 1).over(wIv))
        .withColumn("v2", lead("vm", 1).over(wIv))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_posits"),
          (max("tus") - min("tus")).as("duration_us"),
          sum(when(col("t2").isNotNull,
            (col("t2") - col("tus")) * col("vm"))).as("step_num"),
          sum(when(col("t2").isNotNull,
            (col("t2") - col("tus")) * (col("vm") + col("v2"))))
            .as("lin_num2"),
          sum(when(col("t2").isNotNull, abs(col("v2") - col("vm"))))
            .as("tv_milli"))
        .where(col("duration_us") > 0L)
        .select(col("user_id"), col("n_posits"), col("duration_us"),
          col("tv_milli"),
          (col("step_num").cast("double") /
            col("duration_us").cast("double")).as("twavg_step_milli"),
          (col("lin_num2").cast("double") /
            (col("duration_us") * 2L).cast("double"))
            .as("twavg_lin_milli"))
        .orderBy("user_id")
    }),

    // q73 — POINT-IN-TIME lookup against the SCD2 dimension (qz50's
    // consumer — the warehouse pattern every versioned-dim join runs):
    // for each purchase, the state the user was in the INSTANT BEFORE
    // the purchase (version with vf ≤ t−1 ≤ vt; the version at t
    // itself would tautologically read 'purchase'). LEFT join: a
    // user's first-ever event has no prior version → 'none'. Scale
    // shape: an equi-join on user_id with a range residual — versions
    // per user are bounded by that user's type-change count, so the
    // per-key fanout is small and the join stays a plain shuffled
    // hash/merge join (no interval machinery needed).
    "q73_scd2_lookup" -> ((s, dir) => {
      val dim = ExtQueries.queries("qz50_scd2_intervals")(s, dir)
        .select(col("user_id").as("d_uid"), col("ver"),
          col("event_type").as("prior_state"), col("vf_us"),
          col("vt_us"))
      val probes = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      probes.join(dim,
          probes("user_id") === dim("d_uid") &&
            dim("vf_us") <= probes("p_us") - 1L &&
            (dim("vt_us").isNull ||
              probes("p_us") - 1L <= dim("vt_us")),
          "left")
        .select(col("event_id"), col("user_id"), col("p_us"),
          coalesce(col("prior_state"), lit("none")).as("prior_state"),
          coalesce(col("ver"), lit(0L)).as("prior_ver"))
        .orderBy("event_id")
    }),

    // q74 — TIME ABOVE THRESHOLD (the MEOS atValues/duration family,
    // q72's restriction sibling): per user under step interpolation,
    // how long the value HELD above X, how often it CROSSED X, and the
    // share of the observed span spent above — the alarm-dwell query
    // every sensor fleet runs. Same float discipline and same
    // one-shuffle shape as q72 (dedupe + lead + rollup co-partitioned
    // on user_id); the share is ONE double division.
    "q74_at_threshold" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val X = 245000L // milli threshold (mid-range of the value domain)
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val wIv = Window.partitionBy("user_id").orderBy(col("tus"))
      val posits = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
      posits
        .withColumn("t2", lead("tus", 1).over(wIv))
        .withColumn("v2", lead("vm", 1).over(wIv))
        .groupBy("user_id")
        .agg((max("tus") - min("tus")).as("duration_us"),
          coalesce(sum(when(col("t2").isNotNull && col("vm") > X,
            col("t2") - col("tus"))), lit(0L)).as("above_us"),
          coalesce(sum(when(col("t2").isNotNull &&
            ((col("vm") > X) =!= (col("v2") > X)), 1L)
            .otherwise(when(col("t2").isNotNull, 0L))), lit(0L))
            .as("n_crossings"))
        .where(col("duration_us") > 0L)
        .select(col("user_id"), col("duration_us"), col("above_us"),
          col("n_crossings"),
          (col("above_us").cast("double") /
            col("duration_us").cast("double")).as("share_above"))
        .orderBy("user_id")
    }),

    // q75 — CORRUPT-RECORD handling (the ingestion surface q57's
    // fail-loud envelope deliberately lacks): a landing zone is never
    // clean, and PERMISSIVE mode with columnNameOfCorruptRecord is how
    // a lake ingests anyway — good rows parse, bad LINES land whole in
    // the corrupt column for the quarantine path. Staged per dir:
    // events as JSONL plus one file of 7 planted bad lines (broken
    // JSON syntax — field-level TYPE mismatches are nulled in place by
    // the lenient parser, a different contract than line quarantine,
    // so the plant stays at the unambiguous syntax class). The rollup
    // books good mass per type
    // and the quarantine mass under '__corrupt__' — a reader that
    // drops bad lines silently, or double-parses a good one,
    // hash-fails.
    "q75_corrupt_records" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("us", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("vm", LongType),
        StructField("_bad", StringType)))
      // the staged read carries an explicit schema, so no inference job
      val ev = Tables.events(s, dir)
      Stage("q75-jsonl", dir) { d =>
        if (ev.isEmpty) None
        else {
          ev.select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
            .write.mode("overwrite").json(d)
          val bad = Seq(
            """{"event_id": 1, "us": 1,""", // truncated object
            """not json at all""",
            """{"event_id"}""",
            """[1, 2""",
            """{"event_id": "x" "us": 2}""", // missing comma
            """{{""",
            """"unterminated""")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(d, "zz-quarantine.json"),
            bad.mkString("\n").getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
          Some(d)
        }
      } match {
        case None =>
          ev.select(col("event_type"), lit(0L).as("n"),
            lit(0L).as("v_milli")).where(lit(false))
        case Some(path) =>
          s.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .json(path)
            // one pass: quarantined lines fold into a '__corrupt__' type
            // (a corrupt-column-only filter is restricted by the JSON
            // reader anyway — this projection references data columns)
            .select(when(col("_bad").isNotNull, lit("__corrupt__"))
              .otherwise(col("event_type")).as("event_type"),
              when(col("_bad").isNotNull, lit(0L)).otherwise(col("vm"))
                .as("vm"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("vm").as("v_milli"))
            .orderBy("event_type")
      }
    }),

    // q76 — TEMPORAL AND (the MEOS tand/tintersects shape): for fixed
    // user pairs, how long BOTH trajectories held above X
    // simultaneously — the synchronized-boolean algebra q74's
    // single-entity dwell can't express. Merge both users' posits into
    // one pair timeline, forward-fill each side's current value
    // (step interpolation), and integrate over the synchronized span
    // (rows where both sides have a value). Shape: everything
    // partitions by pair_id — the per-pair timeline is two entities'
    // posits by construction, and scaling to millions of pairs is the
    // same plan with more partitions.
    "q76_temporal_and" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val X = 245000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val posits = Tables.events(s, dir)
        .where(col("user_id").isin(1L, 2L, 3L, 4L))
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("pair_id", expr("(user_id + 1) div 2"))
        .withColumn("side", col("user_id") % 2L)
      val wT = Window.partitionBy("pair_id")
        .orderBy(col("tus"), col("user_id"), col("event_id"))
      val wFill = wT.rowsBetween(Window.unboundedPreceding, 0)
      posits
        .withColumn("av", last(when(col("side") === 1L, col("vm")),
          ignoreNulls = true).over(wFill))
        .withColumn("bv", last(when(col("side") === 0L, col("vm")),
          ignoreNulls = true).over(wFill))
        .where(col("av").isNotNull && col("bv").isNotNull)
        .withColumn("t2", lead("tus", 1).over(wT))
        .groupBy("pair_id")
        .agg(
          coalesce(sum(when(col("t2").isNotNull &&
            col("av") > X && col("bv") > X,
            col("t2") - col("tus"))), lit(0L)).as("both_above_us"),
          coalesce(sum(when(col("t2").isNotNull &&
            (col("av") > X || col("bv") > X),
            col("t2") - col("tus"))), lit(0L)).as("any_above_us"),
          (max("tus") - min("tus")).as("span_us"))
        .where(col("span_us") > 0L)
        .orderBy("pair_id")
    }),

    // q79 — PERIOD-SET restriction (MEOS atTime/atPeriodSet,
    // `meos/src/temp.rs`'s Temporal values restricted to time windows):
    // clip each user's step-interpolated value sequence to a two-window
    // period set anchored at the corpus start (days [2,5) ∪ [8,11) —
    // the "only count activity inside the campaign windows" query).
    // Per user: posits inside the set, their milli mass, and the
    // step-dwell duration with segments CLIPPED at window boundaries
    // (a segment straddling a boundary contributes exactly its overlap
    // — the atPeriod semantics, not a posit filter). The anchor is a
    // one-row global-min agg broadcast to the scan (never collected);
    // every quantity is integer µs/milli, so the twin is exact. Scale:
    // one pass + one per-user window; the period arithmetic is
    // row-local.
    "q79_at_period" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val g = broadcast(Tables.events(s, dir)
        .agg(min(unix_micros(col("ts"))).as("g0")))
      val day = 86400000000L
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("t2", lead("tus", 1).over(wSeq))
        .crossJoin(g)
        .withColumn("p0", col("g0") + lit(2L * day))
        .withColumn("p1", col("g0") + lit(5L * day))
        .withColumn("p2", col("g0") + lit(8L * day))
        .withColumn("p3", col("g0") + lit(11L * day))
        .withColumn("inp",
          (col("tus") >= col("p0") && col("tus") < col("p1")) ||
            (col("tus") >= col("p2") && col("tus") < col("p3")))
        .withColumn("ov", expr(
          "greatest(0L, least(t2, p1) - greatest(tus, p0)) + " +
            "greatest(0L, least(t2, p3) - greatest(tus, p2))"))
        .groupBy("user_id")
        .agg(sum(when(col("inp"), 1L).otherwise(0L)).as("n_in_period"),
          sum(when(col("inp"), col("vm")).otherwise(0L))
            .as("milli_in_period"),
          coalesce(sum(when(col("t2").isNotNull, col("ov"))), lit(0L))
            .as("retained_us"))
        .orderBy("user_id")
    }),

    // q80 — NEAREST-APPROACH distance + instant (MEOS
    // nearestApproachDistance/Instant for synchronized temporal
    // values): for each q76 pair, the minimum |a − b| over the merged
    // step-synchronized timeline and the FIRST instant achieving it.
    // Same forward-fill synchronization as q76 (the tand machinery);
    // the argmin is one more window-free aggregate — min over a struct
    // (dist, tus) gives both the distance and its earliest instant in
    // a single exact integer pass.
    "q80_nearest_approach" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val posits = Tables.events(s, dir)
        .where(col("user_id").isin(1L, 2L, 3L, 4L))
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("pair_id", expr("(user_id + 1) div 2"))
        .withColumn("side", col("user_id") % 2L)
      val wT = Window.partitionBy("pair_id")
        .orderBy(col("tus"), col("user_id"), col("event_id"))
      val wFill = wT.rowsBetween(Window.unboundedPreceding, 0)
      posits
        .withColumn("av", last(when(col("side") === 1L, col("vm")),
          ignoreNulls = true).over(wFill))
        .withColumn("bv", last(when(col("side") === 0L, col("vm")),
          ignoreNulls = true).over(wFill))
        .where(col("av").isNotNull && col("bv").isNotNull)
        .withColumn("d", abs(col("av") - col("bv")))
        .groupBy("pair_id")
        .agg(min(struct(col("d"), col("tus"))).as("na"),
          count(lit(1)).as("n_sync"))
        .select(col("pair_id"), col("na.d").as("nad_milli"),
          col("na.tus").as("nai_us"), col("n_sync"))
        .orderBy("pair_id")
    }),

    // q82 — GRID RESAMPLING (MEOS tsample: snap a step sequence to a
    // regular instant grid): each user's value sequence sampled at
    // every whole hour inside the user's own span — the query that
    // turns irregular telemetry into the fixed-rate series a model or
    // dashboard consumes. Spelling: union the posits with per-user
    // hour-grid markers (one sequence() per user, span-bounded) and
    // one forward-fill window ordered (tus, marker-last) — the sample
    // at grid instant g is the last value ≤ g, posits at exactly g
    // included. Rolled per user: samples, milli mass, min/max. All
    // integer.
    "q82_resample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hour = 3600000000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val posits = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .select(col("user_id"), col("tus"), col("vm"), lit(0L).as("isg"))
      val grid = posits.groupBy("user_id")
        .agg(min("tus").as("t0"), max("tus").as("t1"))
        .where(expr(s"t1 div ${hour}L >= (t0 + ${hour - 1}L) div ${hour}L"))
        .select(col("user_id"), explode(expr(
          s"sequence((t0 + ${hour - 1}L) div ${hour}L, t1 div ${hour}L)"))
          .as("hh"))
        .select(col("user_id"), (col("hh") * hour).as("tus"),
          lit(null).cast("long").as("vm"), lit(1L).as("isg"))
      val wFill = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("isg"))
        .rowsBetween(Window.unboundedPreceding, 0)
      posits.union(grid)
        .withColumn("sv", last(when(col("isg") === 0L, col("vm")),
          ignoreNulls = true).over(wFill))
        .where(col("isg") === 1L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_samples"), sum("sv").as("milli_sum"),
          min("sv").as("v_min"), max("sv").as("v_max"))
        .orderBy("user_id")
    }),

    // q83 — CROSS-KEY TEMPORAL SUM at day grain (the MEOS tagg family:
    // aggregate a SET of temporal values into one): the day-end
    // system-wide state — how many users have a defined value as of
    // each day's close, and their summed value — i.e. the daily
    // snapshot table a fleet dashboard reads. Scale-correct spelling:
    // per (user, day-posted) last value (one struct-max agg, partial
    // map-side), then the qz47 calendar-carry — a per-user window over
    // DAY-grain rows (span-bounded at any corpus size) forward-fills
    // users across silent days from a users × span-days grid, and the
    // final rollup is day-grain.
    "q83_temporal_sum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = 86400000000L
      val b = broadcast(Tables.events(s, dir).agg(
        (min(unix_micros(col("ts"))) / day).cast("long").as("d0"),
        (max(unix_micros(col("ts"))) / day).cast("long").as("d1")))
      val lastPerDay = Tables.events(s, dir)
        .select(col("user_id"),
          (unix_micros(col("ts")) / day).cast("long").as("d"),
          unix_micros(col("ts")).as("tus"), col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("user_id", "d")
        .agg(max(struct(col("tus"), col("event_id"), col("vm")))
          .getField("vm").as("vm"))
      val grid = Tables.events(s, dir).select(col("user_id")).distinct()
        .crossJoin(b)
        .select(col("user_id"),
          explode(expr("sequence(d0, d1)")).as("d"))
      // GLOBAL-WINDOW BOUND (calendar): day-grain rows per user —
      // span-bounded however big the corpus
      val wFill = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(lastPerDay, Seq("user_id", "d"), "left")
        .withColumn("cv", last("vm", ignoreNulls = true).over(wFill))
        .where(col("cv").isNotNull)
        .groupBy("d")
        .agg(count(lit(1)).as("n_users"), sum("cv").as("milli_sum"))
        .orderBy("d")
    }),

    // q85 — PATH LENGTH (MEOS length/cumulativeLength for tgeompoint):
    // per-user travelled Euclidean distance over the (value,
    // props-length) plane — the q57 tpoint's own coordinates. Each
    // step's length is one per-row double sqrt FLOORED to micro units
    // (the qe29 rule: cross-row sums stay in BIGINT, so partial
    // aggregation cannot reorder float math); per user: steps, total
    // micro-length, longest step.
    "q85_path_length" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value").as("x"),
          length(col("props")).cast("double").as("y"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("px", lag("x", 1).over(wSeq))
        .withColumn("py", lag("y", 1).over(wSeq))
        .where(col("px").isNotNull)
        .withColumn("step_micro", expr(
          "CAST(floor(1000000 * sqrt((x - px) * (x - px) + " +
            "(y - py) * (y - py))) AS BIGINT)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum("step_micro").as("len_micro"),
          max("step_micro").as("max_step_micro"))
        .orderBy("user_id")
    }),

    // q88 — RECURSIVE CTE (the Spark 4 SQL surface itself: WITH
    // RECURSIVE landed in Spark 4.x; every prior recursion in this
    // repo ran driver-side supersteps or HOF folds): the canonical
    // hierarchy walk — users form a binary org tree (parent = id DIV
    // 2, root 1), each node weighted by its event count, and the
    // recursion climbs every user's ancestor chain accumulating depth
    // and the path's event mass. Iterations are bounded by the tree
    // depth (log₂ of the max id — 8 at the gate, ~40 at any realistic
    // id space), and each step is one keyed join, so the recursion is
    // depth-bounded relational work, not a driver loop. The twin runs
    // the same recursion in DuckDB's dialect.
    "q88_recursive_cte" -> ((s, dir) => {
      // per-invocation view name + drop-after-analysis (ADVICE r14:
      // a fixed name races concurrent invocations with different dirs
      // between createOrReplaceTempView and s.sql, and leaks into the
      // session catalog). s.sql() resolves the view eagerly at analysis,
      // so the returned plan no longer needs the catalog entry.
      val view = s"q88_cnt_${viewSeq.incrementAndGet()}"
      Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
        .createOrReplaceTempView(view)
      try s.sql(s"""WITH RECURSIVE walk(user_id, anc, depth, path_n) AS (
        |  SELECT user_id, user_id, 0, n FROM $view
        |  UNION ALL
        |  SELECT w.user_id, w.anc DIV 2, w.depth + 1,
        |    w.path_n + coalesce(c.n, CAST(0 AS BIGINT))
        |  FROM walk w LEFT JOIN $view c ON c.user_id = w.anc DIV 2
        |  WHERE w.anc > 1)
        |SELECT user_id, CAST(depth AS BIGINT) AS depth, path_n
        |FROM walk WHERE anc = 1 ORDER BY user_id""".stripMargin)
      finally s.catalog.dropTempView(view)
    }),

    // q86 — SPEED (MEOS speed/maxSpeed for temporal values): the
    // per-step rate of change |Δv|/Δt over each user's deduped
    // sequence, as exact integers — step speed in milli-units per
    // second = (|Δv_milli| · 1e6) div Δt_µs (Δt > 0 after the dup-ts
    // dedupe). Per user: steps, max speed, the FIRST instant the max
    // is reached (min-over-struct argmax, q80's rule), and the
    // time-weighted mean numerator Σ|Δv| over Σ Δt stated as one
    // division in ppm of a milli-unit/s.
    "q86_speed" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("p2", lag("tus", 1).over(wSeq))
        .withColumn("pv", lag("vm", 1).over(wSeq))
        .where(col("p2").isNotNull)
        .withColumn("sp",
          expr("(abs(vm - pv) * 1000000L) div (tus - p2)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          min(struct((-col("sp")).as("ns"), col("tus"))).as("mx"),
          sum(abs(col("vm") - col("pv"))).as("dv_milli"),
          sum(col("tus") - col("p2")).as("dt_us"))
        .select(col("user_id"), col("n_steps"),
          (-col("mx.ns")).as("max_speed"),
          col("mx.tus").as("max_at_us"),
          expr("(dv_milli * 1000000L) div dt_us").as("mean_speed"))
        .orderBy("user_id")
    }),

    // q92 — AZIMUTH / DIRECTION (MEOS azimuth/direction for
    // tgeompoint): per-step bearing over the q57 tpoint plane
    // (x = value in milli, y = props-length), quantized to the 8
    // COMPASS OCTANTS by exact integer comparisons — the one spelling
    // of "bearing" both engines compute bit-identically. (floor of
    // atan2 is NOT cross-engine reproducible: libm's atan2 is not
    // correctly rounded, so a micro-degree azimuth could hash-split on
    // a 1-ULP boundary; the octant index needs only sign and |dx|/|dy|
    // comparisons, which are exact.) Octant o = 2·quadrant + (|dy| >
    // |dx|), quadrants CCW from +x; zero-displacement steps land in
    // octant −1 ("stationary"). Per (user, octant): step count and the
    // exact |dx|/|dy| milli masses; plus MEOS `direction` (start→end
    // displacement) replayed as first/last deltas per user via
    // min/max-over-struct — all one window + one rollup.
    "q92_azimuth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("xm"),
          length(col("props")).cast("long").as("ym"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("dx", col("xm") - lag("xm", 1).over(wSeq))
        .withColumn("dy", col("ym") - lag("ym", 1).over(wSeq))
        .where(col("dx").isNotNull)
        .withColumn("oct", expr(
          """CASE WHEN dx = 0 AND dy = 0 THEN -1
            |     WHEN dx >= 0 AND dy >= 0 THEN
            |       CASE WHEN abs(dy) > abs(dx) THEN 1 ELSE 0 END
            |     WHEN dx < 0 AND dy >= 0 THEN
            |       CASE WHEN abs(dy) > abs(dx) THEN 3 ELSE 2 END
            |     WHEN dx < 0 AND dy < 0 THEN
            |       CASE WHEN abs(dy) > abs(dx) THEN 5 ELSE 4 END
            |     ELSE CASE WHEN abs(dy) > abs(dx) THEN 7 ELSE 6 END
            |END""".stripMargin))
        .groupBy("user_id", "oct")
        .agg(count(lit(1)).as("n_steps"),
          sum(abs(col("dx"))).as("adx_milli"),
          sum(abs(col("dy"))).as("ady_len"))
        .orderBy("user_id", "oct")
    }),

    // q93 — TIME-WEIGHTED CENTROID (MEOS twcentroid, the q72 TWA
    // machinery over BOTH plane coordinates at once): each posit's
    // (x, y) holds until the next instant (step interpolation), so the
    // centroid is Σ value·Δt over Σ Δt per coordinate — the summary
    // position a fleet query anchors on. Exact integers end to end:
    // weights in ms (Δµs div 1000 — products bounded by |x_milli| ·
    // span_ms ≲ 10¹⁵ ≪ 2⁶³), one division at the end, users with a
    // single posit (zero duration) report the posit itself (the MEOS
    // instant-centroid contract).
    "q93_twcentroid" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("xm"),
          length(col("props")).cast("long").as("ym"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("t2", lead("tus", 1).over(wSeq))
        .withColumn("w_ms", expr("(t2 - tus) div 1000"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_posits"),
          coalesce(sum("w_ms"), lit(0L)).as("dur_ms"),
          coalesce(sum(col("xm") * col("w_ms")), lit(0L)).as("xw"),
          coalesce(sum(col("ym") * col("w_ms")), lit(0L)).as("yw"),
          min(struct(col("tus"), col("event_id"), col("xm"),
            col("ym"))).as("fst"))
        .select(col("user_id"), col("n_posits"), col("dur_ms"),
          // positive-operand OFFSET trick (the qz51/qz63 discipline,
          // ADVICE r15): xw can go negative with negative values, and
          // DuckDB // floors while Spark div truncates toward zero —
          // shifting the numerator by OFF·dur_ms makes it provably
          // positive (|xm| ≤ 10⁷ milli by construction), where the two
          // semantics coincide. OFF·dur_ms ≤ 10⁷·2.6·10⁹ ≪ 2⁶³.
          when(col("dur_ms") > 0L,
            expr("(xw + 10000000L * dur_ms) div dur_ms - 10000000L"))
            .otherwise(col("fst.xm")).as("twx_milli"),
          when(col("dur_ms") > 0L,
            expr("(yw + 10000000L * dur_ms) div dur_ms - 10000000L"))
            .otherwise(col("fst.ym")).as("twy_len"))
        .orderBy("user_id")
    }),

    // q81 — Z-ORDER layout audit: the multi-dimensional-clustering
    // check a 100 TB table runs before committing to a sort key. A
    // single-column sort bounds ONE dimension per file; a Z-ordered
    // (bit-interleaved) layout bounds EVERY interleaved dimension, so
    // min/max file skipping works for predicates on any of them. This
    // audit normalizes two dims (event time, value) to 8 bits each
    // against one broadcast global-bounds row, interleaves them into a
    // 16-bit Z-value, buckets the table into 256 Z-cells (the
    // would-be files), and reports each cell's row count and per-dim
    // min/max spans plus the bounding-cell area — the numbers that
    // decide whether the rewrite pays. All integer; the twin states
    // the identical shift/mask interleave.
    "q81_zorder_audit" -> ((s, dir) => {
      val b = broadcast(Tables.events(s, dir).agg(
        min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"),
        min(floor(col("value") * 1000).cast("long")).as("v0"),
        max(floor(col("value") * 1000).cast("long")).as("v1")))
      val z = (0 until 8).map(i =>
        s"shiftleft(shiftright(d1, $i) & 1, ${2 * i + 1}) + " +
          s"shiftleft(shiftright(d2, $i) & 1, ${2 * i})")
        .mkString(" + ")
      Tables.events(s, dir)
        .select(unix_micros(col("ts")).as("tus"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .crossJoin(b)
        .withColumn("d1", expr("(tus - t0) * 256 div (t1 - t0 + 1)"))
        .withColumn("d2", expr("(vm - v0) * 256 div (v1 - v0 + 1)"))
        .withColumn("zb", expr(s"($z) div 256"))
        .groupBy("zb")
        .agg(count(lit(1)).as("n"),
          min("d1").as("d1_min"), max("d1").as("d1_max"),
          min("d2").as("d2_min"), max("d2").as("d2_max"))
        .withColumn("cell_area", expr(
          "(d1_max - d1_min + 1) * (d2_max - d2_min + 1)"))
        .orderBy("zb")
    }),

    // q77 — DEAD-BAND trajectory simplification (the MEOS `simplify`
    // family in its sequential form): keep a posit only when it moves
    // more than ε from the LAST KEPT value — the compression every
    // telemetry lake runs before storing raw sensor streams. The
    // "last kept" state makes this a FOLD, not a window (each keep
    // decision depends on the previous keep decision), so it runs as
    // one HOF `aggregate` over the q12-assembled per-user value
    // sequence — row-local after the assembly shuffle, and the twin is
    // the same fold as a DuckDB list_reduce over an identically-
    // ordered list. ε = 50.000 in milli units; the first posit is
    // always kept (the sentinel init).
    "q77_deadband_simplify" -> ((s, dir) => {
      val asm = Assembly.tfloatAssembleByKey(Tables.events(s, dir),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      asm
        .withColumn("vm",
          expr("transform(s.v, x -> CAST(floor(x * 1000) AS BIGINT))"))
        .select(col("k").as("user_id"), col("s.n").as("n_in"),
          expr("""aggregate(vm,
            named_struct('lastv', CAST(-1000000000000000 AS BIGINT),
                         'n', CAST(0 AS BIGINT),
                         'sum', CAST(0 AS BIGINT)),
            (acc, v) -> IF(abs(v - acc.lastv) > 50000,
              named_struct('lastv', v, 'n', acc.n + 1L,
                           'sum', acc.sum + v),
              acc))""").as("st"))
        .select(col("user_id"), col("n_in"), col("st.n").as("n_kept"),
          col("st.sum").as("kept_milli_sum"),
          expr("(1000000 * (n_in - st.n)) div n_in")
            .as("dropped_ppm"))
        .orderBy("user_id")
    }),

    // q78 — DOUGLAS–PEUCKER trajectory simplification (MEOS's flagship
    // simplifier; q77 covers the dead-band form): keep the points whose
    // SYNCHRONIZED deviation from the endpoint chord exceeds ε,
    // recursing on the split — the max-deviation criterion that
    // preserves SHAPE where the dead-band preserves only step changes.
    // Spark-first spelling: DP's recursion is DEPTH-BOUNDED to 10
    // doublings (≤1024 segments per trajectory — the production cap a
    // dashboard/thumbnail pipeline wants anyway; MEOS's unbounded
    // recursion is the D→∞ limit), so each level is ONE codegen-plan
    // pass of higher-order array functions over the q12-assembled
    // sequences: flatten(transform(segs, split-or-finalize)) with the
    // argmax as an `aggregate` fold over the segment interior. No
    // shuffle beyond the assembly's one exchange; per-level work is
    // O(n) per user, total O(n·D). Integer-exact throughout: the MEOS
    // tfloat deviation |v_i − lerp(t_i)| > ε is cross-multiplied by the
    // chord's Δt — dev = |Δv_i·Δt_seg − Δv_seg·Δt_i| vs ε·Δt_seg in
    // (milli-value × relative-ms) units, products bounded by
    // |v|·span_ms ≲ 10¹⁶ ≪ 2⁶³. Ties at the argmax break to the
    // smallest index (strict `>` in the fold; the twin's row_number
    // orders dev DESC, i). The DuckDB twin replays the identical
    // bounded recursion as a worklist recursive CTE (splits fan out
    // two rows per level; kept set = distinct endpoints of every
    // segment ever enqueued — parents' endpoints are inherited by
    // children, so that union equals the final segments' endpoints).
    // ε = 250 milli-units.
    "q78_dp_simplify" -> ((s, dir) => {
      val asm = Assembly.tfloatAssembleByKey(Tables.events(s, dir),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      // dev(i) for segment g over arrays vm/tm (both 1-based via
      // element_at); shared text so fold-compare and fold-update agree
      def dev(i: String) =
        s"""abs((element_at(vm, $i) - element_at(vm, g.lo)) *
           |     (element_at(tm, g.hi) - element_at(tm, g.lo)) -
           |     (element_at(vm, g.hi) - element_at(vm, g.lo)) *
           |     (element_at(tm, $i) - element_at(tm, g.lo)))"""
          .stripMargin.replaceAll("\n", " ")
      val step =
        s"""flatten(transform(segs, g ->
           |  IF(g.fin OR g.hi - g.lo < 2,
           |    array(named_struct('lo', g.lo, 'hi', g.hi, 'fin', true)),
           |    aggregate(sequence(g.lo + 1, g.hi - 1),
           |      named_struct('bd', CAST(-1 AS BIGINT), 'bi', 0),
           |      (a, i) -> IF(${dev("i")} > a.bd,
           |        named_struct('bd', ${dev("i")}, 'bi', i), a),
           |      a -> IF(a.bd > 250 * (element_at(tm, g.hi) -
           |                            element_at(tm, g.lo)),
           |        array(named_struct('lo', g.lo, 'hi', a.bi,
           |                           'fin', false),
           |              named_struct('lo', a.bi, 'hi', g.hi,
           |                           'fin', false)),
           |        array(named_struct('lo', g.lo, 'hi', g.hi,
           |                           'fin', true)))))))"""
          .stripMargin.replaceAll("\n", " ")
      val base = asm
        .withColumn("vm",
          expr("transform(s.v, x -> CAST(floor(x * 1000) AS BIGINT))"))
        .withColumn("tm",
          expr("transform(s.t, t -> (t - element_at(s.t, 1)) div 1000)"))
        .withColumn("n", col("s.n"))
        .withColumn("segs", expr(
          "array(named_struct('lo', 1, 'hi', CAST(n AS INT), " +
            "'fin', n <= 2))"))
      (1 to 10).foldLeft(base)((d, _) => d.withColumn("segs", expr(step)))
        .withColumn("kept", expr(
          "array_distinct(flatten(transform(segs, g -> " +
            "array(g.lo, g.hi))))"))
        .select(col("k").as("user_id"), col("n").as("n_in"),
          expr("CAST(size(kept) AS BIGINT)").as("n_kept"),
          expr("aggregate(kept, CAST(0 AS BIGINT), " +
            "(a, i) -> a + element_at(vm, i))").as("kept_milli_sum"))
        .withColumn("dropped_ppm",
          expr("(1000000 * (n_in - n_kept)) div n_in"))
        .orderBy("user_id")
    }),

    // q97 — AT-EXTREMES restriction (MEOS atMin/atMax): the instants
    // where each user's value attains its minimum / maximum — per
    // user: the extremes themselves, how many posits attain each, and
    // the FIRST instant attaining each (the MEOS startTimestamp of
    // the restricted value). One per-user window pass (min/max over
    // the partition) + one rollup with conditional aggregates — no
    // self-join, no second scan. All integer.
    "q97_at_extremes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val wU = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("vmin", min("vm").over(wU))
        .withColumn("vmax", max("vm").over(wU))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_posits"),
          min("vm").as("v_min"), max("vm").as("v_max"),
          sum(when(col("vm") === col("vmin"), 1L).otherwise(0L))
            .as("n_at_min"),
          min(when(col("vm") === col("vmin"), col("tus")))
            .as("first_min_us"),
          sum(when(col("vm") === col("vmax"), 1L).otherwise(0L))
            .as("n_at_max"),
          min(when(col("vm") === col("vmax"), col("tus")))
            .as("first_max_us"))
        .orderBy("user_id")
    }),

    // q98 — TEMPORAL MERGE (MEOS merge/temporal_app): each q80 pair's
    // two step sequences merged into ONE — the union of both sides'
    // posits with the documented tie rule at a shared instant (the
    // LOWER user id wins; MEOS proper errors on conflicting values —
    // a lake merge needs a total rule instead). Per pair: merged
    // instant count, span, milli mass, and how many instants each
    // side contributed. One (pair, tus)-grain dedupe window + one
    // rollup; everything partitions by pair. All integer.
    "q98_temporal_merge" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val wPair = Window.partitionBy("pair_id", "tus")
        .orderBy("user_id", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("pair_id", expr("(user_id + 1) div 2"))
        .withColumn("rn", row_number().over(wPair))
        .where(col("rn") === 1)
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_merged"),
          min("tus").as("t0_us"), max("tus").as("t1_us"),
          sum("vm").as("milli_sum"),
          sum(when(col("user_id") % 2L === 1L, 1L).otherwise(0L))
            .as("n_from_odd"),
          sum(when(col("user_id") % 2L === 0L, 1L).otherwise(0L))
            .as("n_from_even"))
        .orderBy("pair_id")
    }),

    // q99 — TEMPORAL COMPARISON (MEOS temporal_lt/eq/gt → tbool →
    // duration rollup): for each q80 pair, the time each side spends
    // BELOW / EQUAL-TO / ABOVE the other on the step-synchronized
    // timeline — q80's forward-fill synchronization, then one
    // conditional-duration rollup over the closed sync segments
    // (trailing open segment contributes no duration). The pairwise
    // form q95's fixed-threshold whenTrue doesn't cover. All integer.
    "q99_temporal_compare" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val posits = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("pair_id", expr("(user_id + 1) div 2"))
        .withColumn("side", col("user_id") % 2L)
      val wT = Window.partitionBy("pair_id")
        .orderBy(col("tus"), col("user_id"), col("event_id"))
      val wFill = wT.rowsBetween(Window.unboundedPreceding, 0)
      posits
        .withColumn("av", last(when(col("side") === 1L, col("vm")),
          ignoreNulls = true).over(wFill))
        .withColumn("bv", last(when(col("side") === 0L, col("vm")),
          ignoreNulls = true).over(wFill))
        .where(col("av").isNotNull && col("bv").isNotNull)
        .withColumn("t2", lead("tus", 1).over(
          Window.partitionBy("pair_id")
            .orderBy(col("tus"), col("user_id"), col("event_id"))))
        .withColumn("dur", col("t2") - col("tus"))
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_sync"),
          coalesce(sum(when(col("av") < col("bv"), col("dur"))), lit(0L))
            .as("lt_us"),
          coalesce(sum(when(col("av") === col("bv"), col("dur"))),
            lit(0L)).as("eq_us"),
          coalesce(sum(when(col("av") > col("bv"), col("dur"))), lit(0L))
            .as("gt_us"))
        .orderBy("pair_id")
    }),

    // q102 — the ONE-PASS TRAJECTORY FEATURE TABLE: the production
    // shape for MEOS-style feature extraction — q86's speed extremes,
    // q96's stop detection, and q77's dead-band compression computed
    // from a SINGLE q12 assembly (one scan, one assembly shuffle, every
    // per-step feature a row-local HOF over the assembled arrays)
    // instead of three separate window queries over three scans. The
    // twin joins the three proven CTE spellings on user_id, so each
    // feature stays individually oracle-exact inside the composition.
    // Same constants as the source queries (speed in milli-units/s;
    // stops ε = 100.000 milli / 6 h; dead-band ε = 50.000 milli).
    "q102_trajectory_features" -> ((s, dir) => {
      val asm = Assembly.tfloatAssembleByKey(Tables.events(s, dir),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      val eps = 100000L
      val minDur = 21600000000L
      def closed(d: String) = s"IF($d >= ${minDur}L, $d, 0L)"
      asm
        .withColumn("vm",
          expr("transform(s.v, x -> CAST(floor(x * 1000) AS BIGINT))"))
        .withColumn("steps", expr(
          """zip_with(slice(s.t, 2, size(s.t) - 1),
            |         slice(vm, 2, size(vm) - 1),
            |  (tt, vv) -> named_struct('tt', tt, 'vv', vv))"""
            .stripMargin.replaceAll("\n", " ")))
        // q86's rates: one fold carrying (prev t, prev v, max, Σ|Δv|,
        // ΣΔt) — max_speed 0 for single-posit users (no steps)
        .withColumn("sp", expr(
          """aggregate(steps,
            |  named_struct('pt', element_at(s.t, 1),
            |    'pv', element_at(vm, 1), 'mx', CAST(0 AS BIGINT),
            |    'dv', CAST(0 AS BIGINT), 'dt', CAST(0 AS BIGINT)),
            |  (acc, x) -> named_struct('pt', x.tt, 'pv', x.vv,
            |    'mx', greatest(acc.mx,
            |      (abs(x.vv - acc.pv) * 1000000L) div (x.tt - acc.pt)),
            |    'dv', acc.dv + abs(x.vv - acc.pv),
            |    'dt', acc.dt + (x.tt - acc.pt)))"""
            .stripMargin.replaceAll("\n", " ")))
        // q96's stops: the identical anchor fold
        .withColumn("st", expr(
          s"""aggregate(steps,
             |  named_struct('a', element_at(vm, 1),
             |    't0', element_at(s.t, 1), 'pt', element_at(s.t, 1),
             |    'nst', CAST(0 AS BIGINT), 'tot', CAST(0 AS BIGINT)),
             |  (acc, x) -> IF(abs(x.vv - acc.a) <= ${eps}L,
             |    named_struct('a', acc.a, 't0', acc.t0, 'pt', x.tt,
             |      'nst', acc.nst, 'tot', acc.tot),
             |    named_struct('a', x.vv, 't0', x.tt, 'pt', x.tt,
             |      'nst', acc.nst +
             |        IF(acc.pt - acc.t0 >= ${minDur}L, 1L, 0L),
             |      'tot', acc.tot + ${closed("(acc.pt - acc.t0)")})),
             |  acc -> named_struct(
             |    'nst', acc.nst + IF(acc.pt - acc.t0 >= ${minDur}L,
             |      1L, 0L),
             |    'tot', acc.tot + ${closed("(acc.pt - acc.t0)")}))"""
            .stripMargin.replaceAll("\n", " ")))
        // q77's dead-band keep count
        .withColumn("kb", expr(
          """aggregate(vm,
            |  named_struct('lastv', CAST(-1000000000000000 AS BIGINT),
            |    'n', CAST(0 AS BIGINT)),
            |  (acc, v) -> IF(abs(v - acc.lastv) > 50000,
            |    named_struct('lastv', v, 'n', acc.n + 1L), acc))"""
            .stripMargin.replaceAll("\n", " ")))
        .select(col("k").as("user_id"), col("s.n").as("n_posits"),
          col("sp.mx").as("max_speed"),
          when(col("sp.dt") > 0L, expr("(sp.dv * 1000000L) div sp.dt"))
            .otherwise(0L).as("mean_speed"),
          col("st.nst").as("n_stops"), col("st.tot").as("stop_us"),
          col("kb.n").as("n_kept"))
        .orderBy("user_id")
    }),

    // q96 — STOPS detection (MEOS stops for temporal values): the
    // maximal anchor-runs where the value stays within ε of the run's
    // FIRST posit for at least minDur — the "vessel at berth / sensor
    // flatline" detector that length/speed/simplify don't give. (MEOS
    // proper uses a run-diameter test; the anchor spelling is the
    // sequential fold every telemetry stack ships, and it is exactly
    // expressible in BOTH engines.) A run breaks at the first posit
    // farther than ε from the anchor; its duration is last-in-run −
    // first-in-run; runs ≥ minDur count as stops. Fold state rides one
    // HOF aggregate over the q12-assembled sequence (row-local after
    // the assembly shuffle); the twin replays the identical fold as a
    // one-position-per-iteration recursive CTE (the q77 template — the
    // oracle's DuckDB misfolds struct-accumulator list_reduce on
    // column data). ε = 100.000 milli-units, minDur = 6 h. All BIGINT.
    "q96_stops" -> ((s, dir) => {
      val asm = Assembly.tfloatAssembleByKey(Tables.events(s, dir),
        col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      val eps = 100000L
      val minDur = 21600000000L
      def closed(d: String) = s"IF($d >= ${minDur}L, $d, 0L)"
      asm
        .withColumn("vm",
          expr("transform(s.v, x -> CAST(floor(x * 1000) AS BIGINT))"))
        .withColumn("st", expr(
          s"""aggregate(
             |  zip_with(slice(s.t, 2, size(s.t) - 1),
             |           slice(vm, 2, size(vm) - 1),
             |    (tt, vv) -> named_struct('tt', tt, 'vv', vv)),
             |  named_struct('a', element_at(vm, 1),
             |    't0', element_at(s.t, 1), 'pt', element_at(s.t, 1),
             |    'nst', CAST(0 AS BIGINT), 'tot', CAST(0 AS BIGINT),
             |    'lng', CAST(0 AS BIGINT)),
             |  (acc, x) -> IF(abs(x.vv - acc.a) <= ${eps}L,
             |    named_struct('a', acc.a, 't0', acc.t0, 'pt', x.tt,
             |      'nst', acc.nst, 'tot', acc.tot, 'lng', acc.lng),
             |    named_struct('a', x.vv, 't0', x.tt, 'pt', x.tt,
             |      'nst', acc.nst +
             |        IF(acc.pt - acc.t0 >= ${minDur}L, 1L, 0L),
             |      'tot', acc.tot + ${closed("(acc.pt - acc.t0)")},
             |      'lng', greatest(acc.lng,
             |        ${closed("(acc.pt - acc.t0)")}))),
             |  acc -> named_struct(
             |    'nst', acc.nst + IF(acc.pt - acc.t0 >= ${minDur}L,
             |      1L, 0L),
             |    'tot', acc.tot + ${closed("(acc.pt - acc.t0)")},
             |    'lng', greatest(acc.lng,
             |      ${closed("(acc.pt - acc.t0)")})))"""
            .stripMargin.replaceAll("\n", " ")))
        .select(col("k").as("user_id"), col("s.n").as("n_posits"),
          col("st.nst").as("n_stops"), col("st.tot").as("stop_us"),
          col("st.lng").as("longest_us"))
        .orderBy("user_id")
    }),

    // q61 — CSV sink/source ROUNDTRIP (q52's ORC discipline for the
    // third format): events — including the props JSON column, whose
    // embedded quotes and braces force the writer's quoting path —
    // write as headered CSV under a fresh temp dir and read back with
    // an explicit schema; the oracle reads the ORIGINAL parquet, so any
    // quote/escape/precision loss through the text roundtrip
    // hash-fails. Doubles roundtrip exactly (Java shortest-repr print,
    // exact parse); timestamps travel as integer micros.
    "q61_csv_roundtrip" -> ((s, dir) => {
      val path = Stage.dir("q61-csv", dir) { d =>
        Tables.events(s, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"), col("value"), col("props"))
          .write.mode("overwrite").option("header", "true").csv(d)
      }
      s.read.option("header", "true")
        .schema("event_id BIGINT, us BIGINT, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING")
        .csv(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("us").as("us_min"),
          max("us").as("us_max"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"),
          sum(length(col("props")).cast("long")).as("props_len"),
          countDistinct("props").as("props_card"))
        .orderBy("event_type")
    }),

    // q62 — declarative DATA-QUALITY audit (the DQ-ruleset operator
    // every lakehouse ingestion gate runs; no single query row covered
    // it): referential integrity (orders→customer, lineitem→orders),
    // primary-key duplication, and domain checks, one independent
    // distributed aggregate per rule, emitted as a (rule, violations)
    // table. Each rule anchors on its base table via a constant group,
    // so an empty lake emits zero rows (the suite contract) while a
    // clean nonempty lake emits every rule with 0.
    "q62_fk_quality_audit" -> ((s, dir) => {
      def rule(name: String, viol: DataFrame): DataFrame =
        viol.groupBy(lit(1).as("one"))
          .agg(sum("viol").as("n_violations"))
          .select(lit(name).as("rule"), col("n_violations"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val l = Tables.lineitem(s, dir)
      val r1 = rule("lineitem_nonpositive_qty",
        l.select(when(col("l_quantity") <= 0, 1L).otherwise(0L)
          .as("viol")))
      val r2 = rule("lineitem_orphan_orderkey",
        l.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .select(when(col("o_orderkey").isNull, 1L).otherwise(0L)
            .as("viol")))
      val r3 = rule("orders_dup_pk",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
          .select(when(col("cnt") > 1, col("cnt")).otherwise(0L)
            .as("viol")))
      val r4 = rule("orders_nonpositive_total",
        o.select(when(col("o_totalprice") <= 0, 1L).otherwise(0L)
          .as("viol")))
      val r5 = rule("orders_orphan_custkey",
        o.select(col("o_custkey"))
          // customer is SF-proportional (150k rows per SF) — like r2's
          // lineitem→orders probe, the join is left to AQE (q39 rule)
          .join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left")
          .select(when(col("c_custkey").isNull, 1L).otherwise(0L)
            .as("viol")))
      r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5)
        .orderBy("rule")
    }),

    // q57 — the DSv2 envelope SOURCE (completing S3's loop: the
    // reference's JSON-lines trip envelope was write-only until now).
    // Full roundtrip: trips assemble per user (qc1's tpoint assembly),
    // hex-WKB encode into the reference envelope via the distributed
    // text sink under a fresh temp path, read BACK through the
    // trip-envelope DataSourceV2 TableProvider (file-grain input
    // partitions, pruned read schema, serialized Hadoop conf), decode,
    // and gate every row through the roundtrip identity (re-encode ==
    // payload byte-for-byte). The surviving facts — per-user instant
    // count and first-instant micros — are exact relational quantities
    // the oracle recomputes from events, so a connector that drops,
    // truncates, splits, or misparses a single line hash-fails.
    "q57_trip_envelope_scan" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .select(col("id").as("user_id"),
          NativeExpressions.tgeompointFromHexWkb(col("json")).as("trip"),
          col("json"))
        .where(NativeExpressions.tgeompointAsHexWkb(col("trip"))
          === col("json"))
        .select(col("user_id"),
          MeosFunctions.tgeompointNumInstants(col("trip"))
            .cast("long").as("n"),
          unix_micros(MeosFunctions.tgeompointStartTs(col("trip")))
            .as("t0_us"))
        .orderBy("user_id")
    }),

    // q84 — DSv2 FILTER PUSHDOWN on the envelope connector (its 4th
    // capability: batch read, batch write, streaming read, and now
    // predicate pushdown + reported statistics): an id-range predicate
    // is accepted by the ScanBuilder and evaluated INSIDE the reader,
    // which token-walks only the ~20-byte line head of a non-matching
    // row — the multi-KB WKB payload of a filtered-out trip is never
    // parsed, materialized, or even skipped token-by-token. The plan
    // shows the pushed range in the scan description (Round14Spec
    // pins it); correctness = the decoded survivors equal the
    // events-derived rollup under the same predicate.
    "q84_envelope_pushdown" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .where(col("id") >= 3L && col("id") < 100L)
        .select(col("id").as("user_id"),
          NativeExpressions.tgeompointFromHexWkb(col("json")).as("trip"))
        .select(col("user_id"),
          MeosFunctions.tgeompointNumInstants(col("trip"))
            .cast("long").as("n"),
          unix_micros(MeosFunctions.tgeompointStartTs(col("trip")))
            .as("t0_us"))
        .orderBy("user_id")
    }),

    // q87 — DSv2 AGGREGATE PUSHDOWN on the envelope (the connector's
    // 5th capability): COUNT(*) under a pushed id range — the reader
    // emits one partial count per line file without parsing any
    // payload (only the ~20-byte id head, for the filter), and Spark
    // sums the partials. The "how many trips landed" operational
    // query costs a line scan, not a JSON parse of the lake.
    "q87_envelope_count" -> ((s, dir) => {
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .where(col("id") < 100L)
        .selectExpr("count(*) AS n_env")
    }),

    // q89 — DSv2 MIN/MAX aggregate pushdown (VERDICT r14 #3): the
    // connector's pushed aggregation grows past bare COUNT(*) — MIN(id)
    // / MAX(id) / COUNT(*) together, under a pushed id filter, are the
    // same ~20-byte line-head walk (one partial row per file; Spark
    // re-mins/re-maxes/sums the partials). The "what id range landed"
    // operational probe costs a head scan, never a payload parse.
    // Round15Spec pins PushedAggregation: [MIN(id), MAX(id), COUNT(*)]
    // in the plan.
    "q89_envelope_minmax" -> ((s, dir) => {
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .where(col("id") >= 3L)
        .selectExpr("min(id) AS id_min", "max(id) AS id_max",
          "count(*) AS n_env")
    }),

    // q90 — DSv2 GROUPED aggregate pushdown: COUNT(*)/MIN(id)/MAX(id)
    // BY vt — vt sits right after id on the wire, so the grouped
    // partials (one row per vt per file) still never reach the payload
    // token. Spark's final aggregate re-groups the per-file rows; the
    // oracle replays the vt derivation (user_id mod 3, 1-based) on the
    // source table.
    "q90_envelope_group_agg" -> ((s, dir) => {
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .groupBy("vt")
        .agg(expr("count(*)").as("n_env"), min("id").as("id_min"),
          max("id").as("id_max"))
        .orderBy("vt")
    }),

    // q91 — DSv2 RUNTIME FILTERING (the connector's 6th capability —
    // VERDICT r14 #4, the DPP analog q64 proves for parquet): a join
    // against a small filtered dimension broadcasts first, Spark hands
    // the scan the observed join-key values (SupportsRuntimeV2Filtering),
    // and the scan re-plans against the commit-time _idindex.json,
    // dropping every file whose [min(id), max(id)] holds none of them —
    // on the range-clustered staging that is most files, before one
    // data byte is read. Correctness never depends on the prune (the
    // join re-evaluates its condition); Round15Spec pins both the
    // runtime filter reaching the scan and the file-drop arithmetic.
    "q91_envelope_runtime_prune" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      val path = stagedEnvelopeRanged(s, dir)
      // the watchlist dimension: a mod-29 key sample CAPPED at 64 —
      // the broadcast is bounded BY CONSTRUCTION however many users
      // exist (the production shape: runtime pruning presumes a small
      // build side; an unbounded entity-grain dim must not broadcast)
      val dim = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("n_ev"))
        .where(col("user_id") % 29L === 0L)
        .orderBy("user_id").limit(64)
      val env = s.read.format("trip-envelope").load(path)
        .select(col("id"),
          MeosFunctions.tgeompointNumInstants(
            NativeExpressions.tgeompointFromHexWkb(col("json")))
            .cast("long").as("n"))
      // BROADCAST BOUND (post-limit): ≤ 64 rows of two BIGINTs
      env.join(broadcast(dim), env("id") === dim("user_id"))
        .select(col("user_id"), col("n"), col("n_ev"))
        .orderBy("user_id")
    }),

    // q94 — DSv2 LIMIT pushdown (the connector's 7th capability):
    // LIMIT reaches the scan as a partial pushdown — each reader caps
    // its admitted lines, and with the id index covering every file
    // the scan plans only the name-order FILE PREFIX whose indexed row
    // counts cover the limit (a LIMIT 10 over a million-file landing
    // zone opens one file). A bare LIMIT's row SET is nondeterministic
    // by SQL semantics, so the gate is the one deterministic
    // consequence: the count under a limit covering a KNOWN slice.
    // Round15Spec pins PushedLimit in the plan, the per-reader cap,
    // and the file-prefix arithmetic directly.
    "q94_envelope_limit" -> ((s, dir) => {
      val path = stagedEnvelope(s, dir)
      s.read.format("trip-envelope").load(path)
        .limit(7).selectExpr("count(*) AS n_limited")
    }),

    // q101 — DSv2 TOP-N pushdown (the connector's 8th capability):
    // ORDER BY id LIMIT k reaches the scan — each reader keeps only
    // its k best lines by id from the head walk (fully parsing just
    // those), and on the range-clustered staging the id index proves
    // the ranges DISJOINT, so the scan plans only the range-order
    // file prefix covering k (one file here). Deterministic because
    // id is unique; Spark re-sorts/re-limits the partial survivors.
    "q101_envelope_topn" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      val path = stagedEnvelopeRanged(s, dir)
      s.read.format("trip-envelope").load(path)
        .orderBy("id").limit(7)
        .select(col("id").as("user_id"),
          MeosFunctions.tgeompointNumInstants(
            NativeExpressions.tgeompointFromHexWkb(col("json")))
            .cast("long").as("n"))
        .orderBy("user_id")
    }),

    // q95 — WHEN-TRUE restriction (MEOS whenTrue/atValues for tbool
    // over a tfloat predicate): the period set where `value > 250.0`
    // holds under step semantics — each posit's truth holds until the
    // next instant — rolled per user as: posits true, total true µs
    // (closed segments only), and the number of MAXIMAL true runs
    // (the period-set cardinality, via a lag-based run-start counter).
    // The trailing open segment contributes no duration (unbounded
    // upper — the MEOS contract for a final instant), only its posit
    // count and possibly a run start. All integer/exact.
    "q95_when_true" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("c", (col("vm") > 250000L).cast("long"))
        .withColumn("pc", lag("c", 1).over(wSeq))
        .withColumn("t2", lead("tus", 1).over(wSeq))
        .withColumn("run_start",
          when(col("c") === 1L &&
            (col("pc").isNull || col("pc") === 0L), 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("c").as("n_true"),
          coalesce(sum(when(col("c") === 1L && col("t2").isNotNull,
            col("t2") - col("tus"))), lit(0L)).as("true_us"),
          sum("run_start").as("n_periods"))
        .where(col("n_true") > 0L)
        .orderBy("user_id")
    }),

    // q103 — LINEAR when-true restriction (VERDICT r15 #3: the
    // reference's default sequence interpolation is LINEAR —
    // `/root/reference/meos/src/tseq.rs:59` — and MEOS whenTrue over a
    // linear tfloat returns sub-instant threshold CROSSINGS, where
    // q95's step leg holds each posit's truth until the next). Per
    // user over the deduped posit sequence against c = 250.000 milli:
    // within a segment (t1,v1)→(t2,v2) the interpolated value exceeds
    // c for dt·(v1−c)/(v1−v2) µs (leaving) or dt·(v2−c)/(v2−v1) µs
    // (entering) — EXACT cross-multiplied BIGINTs floored to the µs
    // grid, no float anywhere, so the twin matches bit-for-bit (every
    // division's operands are positive by its CASE guard, where DuckDB
    // // and Spark div agree). Rolled up: true duration, maximal
    // true-run count (initial-true + upward crossings — a posit
    // touching c exactly splits a run, the MEOS open-period contract),
    // crossing counts both ways, and the first upward crossing instant
    // t1 + dt·(c−v1)/(v2−v1). Bounds: dt·|v−c| ≤ 2.6·10¹²·1.2·10⁶ ≈
    // 3·10¹⁸ < 2⁶³. Same one-shuffle shape as q95.
    "q103_linear_when_true" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = 250000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("t2", lead("tus", 1).over(wSeq))
        .withColumn("v2", lead("vm", 1).over(wSeq))
        .withColumn("rn", row_number().over(wSeq))
        .withColumn("true_seg", expr(
          s"""CASE WHEN t2 IS NULL THEN 0L
             |  WHEN vm > ${c}L AND v2 > ${c}L THEN t2 - tus
             |  WHEN vm > ${c}L THEN
             |    ((t2 - tus) * (vm - ${c}L)) div (vm - v2)
             |  WHEN v2 > ${c}L THEN
             |    ((t2 - tus) * (v2 - ${c}L)) div (v2 - vm)
             |  ELSE 0L END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("up", expr(s"CASE WHEN t2 IS NOT NULL AND " +
          s"vm <= ${c}L AND v2 > ${c}L THEN 1L ELSE 0L END"))
        .withColumn("dn", expr(s"CASE WHEN t2 IS NOT NULL AND " +
          s"vm > ${c}L AND v2 <= ${c}L THEN 1L ELSE 0L END"))
        .withColumn("up_t", expr(s"CASE WHEN t2 IS NOT NULL AND " +
          s"vm <= ${c}L AND v2 > ${c}L THEN tus + " +
          s"((${c}L - vm) * (t2 - tus)) div (v2 - vm) END"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_posits"),
          coalesce(sum("true_seg"), lit(0L)).as("true_us_lin"),
          (coalesce(sum("up"), lit(0L)) +
            max(when(col("rn") === 1 && col("vm") > c, 1L)
              .otherwise(0L))).as("n_periods_lin"),
          coalesce(sum("up"), lit(0L)).as("n_up"),
          coalesce(sum("dn"), lit(0L)).as("n_down"),
          min("up_t").as("first_up_us"))
        .orderBy("user_id")
    }),

    // q104 — LINEAR temporal comparison (the linear leg of q99's
    // temporal_lt/eq/gt, VERDICT r15 #3): both sides of each pair
    // interpolate LINEARLY, so within a merged segment [t1, t2] (no
    // posit of either side strictly inside) the difference d(t) =
    // a(t) − b(t) is itself linear and the lt/gt durations split at
    // one exact crossing. Exactness without floats: with side-a
    // bracket (pa, na) and Da = na.t − pa.t, the endpoint numerators
    // N = (a·Da)·Db − (b·Db)·Da are integers in DECIMAL(38,0) (≤
    // ~1.2·10⁶·(2.6·10¹²)² ≈ 10³¹ — HUGEINT on the twin side), and the
    // crossing-split duration dt·(−N1)/(N2−N1) REDUCES: N2−N1 =
    // dt·S with S = Δva·Db − Δvb·Da, so the duration is (−N1) div S —
    // dt cancels, keeping every product inside 38 digits. Every
    // division's operands are positive under its CASE guard (floor =
    // truncate). eq duration is nonzero only when the difference is
    // identically zero across the segment (N1 = N2 = 0); touching
    // crossings are measure-zero, the MEOS contract. Scale shape: one
    // shuffle on user_id for the dedupe, one on pair_id for the merged
    // timeline; all four bracket fills ride TWO frame specs of the
    // same pair window (one window exec each).
    "q104_linear_compare" -> ((s, dir) =>
      pairLinearSegments(s, dir)
        .withColumn("lt_seg", expr(
          """CASE WHEN n1 < 0 AND n2 < 0 THEN dt
            |  WHEN n1 < 0 AND n2 >= 0 THEN (-n1) div ss
            |  WHEN n1 >= 0 AND n2 < 0 THEN (-n2) div (-ss)
            |  ELSE 0L END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("gt_seg", expr(
          """CASE WHEN n1 > 0 AND n2 > 0 THEN dt
            |  WHEN n1 > 0 AND n2 <= 0 THEN n1 div (-ss)
            |  WHEN n1 <= 0 AND n2 > 0 THEN n2 div ss
            |  ELSE 0L END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("eq_seg",
          expr("CASE WHEN n1 = 0 AND n2 = 0 THEN dt ELSE 0L END"))
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_seg"),
          sum("lt_seg").as("lt_us"), sum("eq_seg").as("eq_us"),
          sum("gt_seg").as("gt_us"),
          sum(expr("CASE WHEN n1 < 0 AND n2 > 0 THEN 1L ELSE 0L END"))
            .as("n_up"),
          sum(expr("CASE WHEN n1 > 0 AND n2 < 0 THEN 1L ELSE 0L END"))
            .as("n_down"))
        .orderBy("pair_id")),

    // q109 — LINEAR NEAREST APPROACH (MEOS nearestApproachDistance /
    // nearestApproachInstant for linear-interp tpoint pairs — q80
    // gives only the step-sampled minimum, which can MISS the true
    // closest pass between posits): on each merged segment both
    // 2-D relative displacements are linear, so d²(f) for f ∈ [0, 1]
    // is a quadratic aa·f² + bb·f + cc with INTEGER coefficients once
    // the endpoint displacements are quantized to the milli grid
    // (dx = n div dadb via the positive-operand OFFSET — the engine-
    // identical floor), and the interior minimum is the exact rational
    // vertex (4·aa·cc − bb²)/(4·aa), floored — nonneg by Cauchy-
    // Schwarz, every product ≤ ~2·10²⁷ ≪ 10³⁸ in DECIMAL/HUGEINT.
    // Per pair: the squared nearest-approach distance (milli², exact —
    // MEOS's sqrt is the only lost step, kept squared to stay oracle-
    // able) and its floored instant, min over segments by (d², t).
    // Same pair-partitioned shape as q104; y rides the same brackets.
    "q109_linear_nad" -> ((s, dir) => {
      val OFF = 10000000L
      def q(n: String) =
        s"CAST(($n + ${OFF}L * dadb) div dadb - ${OFF}L AS BIGINT)"
      // y scaled ×1000 into milli so both axes share units (q93 keeps
      // them separate; a DISTANCE must not): ny ≤ 10⁵ milli vs dx ~10⁶
      pairLinearSegments(s, dir, withY = true)
        .withColumn("dx1", expr(q("n1")))
        .withColumn("dx2", expr(q("n2")))
        .withColumn("dy1", expr(s"1000L * ${q("ny1")}"))
        .withColumn("dy2", expr(s"1000L * ${q("ny2")}"))
        .withColumn("aa", expr(
          "(dx2 - dx1) * (dx2 - dx1) + (dy2 - dy1) * (dy2 - dy1)"))
        .withColumn("bb", expr(
          "2L * (dx1 * (dx2 - dx1) + dy1 * (dy2 - dy1))"))
        .withColumn("cc", expr("dx1 * dx1 + dy1 * dy1"))
        .withColumn("d2_seg", expr(
          """CASE WHEN aa = 0L OR bb >= 0L THEN cc
            |  WHEN -bb >= 2L * aa THEN dx2 * dx2 + dy2 * dy2
            |  ELSE CAST((CAST(4L AS DECIMAL(38,0)) * aa * cc -
            |    CAST(bb AS DECIMAL(38,0)) * bb) div (4L * aa)
            |    AS BIGINT) END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("t_seg", expr(
          """CASE WHEN aa = 0L OR bb >= 0L THEN tus
            |  WHEN -bb >= 2L * aa THEN t2
            |  ELSE tus + CAST((CAST(dt AS DECIMAL(38,0)) * (-bb))
            |    div (2L * aa) AS BIGINT) END"""
            .stripMargin.replaceAll("\n", " ")))
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_seg"),
          min(struct(col("d2_seg"), col("t_seg"))).as("na"),
          // Σ of per-segment minima + interior-vertex count: a pair
          // whose nad2 bottoms out at 0 still pins EVERY segment's
          // branch arithmetic through these (an all-zero min column
          // alone would let a broken vertex formula hide)
          sum("d2_seg").as("sum_d2"),
          sum(expr("CASE WHEN aa <> 0L AND bb < 0L AND " +
            "-bb < 2L * aa THEN 1L ELSE 0L END")).as("n_interior"))
        .select(col("pair_id"), col("n_seg"),
          col("na.d2_seg").as("nad2_milli2"),
          col("na.t_seg").as("nai_us"),
          col("sum_d2"), col("n_interior"))
        .orderBy("pair_id")
    }),

    // q107 — LINEAR tdwithin (q105's interaction detector under
    // q103/q104's LINEAR semantics, closing the interpolation matrix:
    // when-true step/linear, compare step/linear, tdwithin
    // step/LINEAR): the duration where |a(t) − b(t)| ≤ ε with both
    // sides linearly interpolated. On a merged segment the difference
    // numerator N(t) is linear over the common denominator Da·Db, so
    // "within" is ONE interval — the intersection of the two
    // half-line conditions N ≤ E and N ≥ −E (E = ε·Da·Db), and
    // duration(within) = dur(N≤E) + dur(N≥−E) − dt by inclusion-
    // exclusion (their union is always the whole segment). Each
    // half-line duration splits at one exact crossing with the same
    // dt-cancelled positive-operand integer division as q104; the
    // per-segment floors can undershoot the exact rational by 1 µs,
    // so the greatest(0, ·) clamp keeps an empty intersection at 0 —
    // identically in both engines. Per pair: within duration, fully-
    // within and partially-within segment counts.
    "q107_linear_tdwithin" -> ((s, dir) =>
      pairLinearSegments(s, dir)
        .withColumn("ee", expr("CAST(100000 AS DECIMAL(38,0)) * dadb"))
        .withColumn("dle", expr(
          """CASE WHEN n1 <= ee AND n2 <= ee THEN dt
            |  WHEN n1 <= ee AND n2 > ee THEN (ee - n1) div ss
            |  WHEN n1 > ee AND n2 <= ee THEN (ee - n2) div (-ss)
            |  ELSE 0L END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("dge", expr(
          """CASE WHEN n1 >= -ee AND n2 >= -ee THEN dt
            |  WHEN n1 >= -ee AND n2 < -ee THEN (n1 + ee) div (-ss)
            |  WHEN n1 < -ee AND n2 >= -ee THEN (n2 + ee) div ss
            |  ELSE 0L END""".stripMargin.replaceAll("\n", " ")))
        .withColumn("w_seg", greatest(lit(0L),
          expr("dle + dge - dt")))
        .withColumn("full_in", expr(
          "CASE WHEN abs(n1) <= ee AND abs(n2) <= ee THEN 1L " +
            "ELSE 0L END"))
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_seg"),
          sum("w_seg").as("within_us_lin"),
          sum("full_in").as("n_full"),
          sum(expr("CASE WHEN w_seg > 0 AND " +
            "NOT (abs(n1) <= ee AND abs(n2) <= ee) THEN 1L " +
            "ELSE 0L END")).as("n_partial"))
        .orderBy("pair_id")),

    // q105 — TEMPORAL DISTANCE + tdwithin (VERDICT r15 #4, the MEOS
    // tdistance/tdwithin interaction family; the STBox spatiotemporal
    // predicates — `/root/reference/meos/src/stbox.rs:83-93` — are the
    // bounding-box stage of exactly these joins): over q80's pair
    // plane, the pairwise distance tfloat |a(t) − b(t)| on the step-
    // synchronized timeline, rolled per pair as its extremes (q80
    // gives only the min), its duration-weighted mean (integer Σ d·Δt
    // numerator, ONE double division — the q72 discipline; Σ ≤
    // max_d·span ≈ 3·10¹⁸ < 2⁶³), and the tdwithin(ε = 100.000 milli)
    // period set — maximal-run count + closed-segment duration, the
    // q95 run machinery on the merged timeline. The interaction
    // detector: "how long were these two within ε of each other, in
    // how many encounters". Scale shape: pair-partitioned windows
    // only — no cross-pair traffic; the rollup rides the pair_id
    // partitioning.
    "q105_tdwithin" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val eps = 100000L
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("tus"), col("event_id"))
      val posits = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .withColumn("pt", lag("tus", 1).over(wSeq))
        .where(col("pt").isNull || col("pt") =!= col("tus"))
        .withColumn("pair_id", expr("(user_id + 1) div 2"))
        .withColumn("side", col("user_id") % 2L)
      val wT = Window.partitionBy("pair_id")
        .orderBy(col("tus"), col("user_id"), col("event_id"))
      val wFill = wT.rowsBetween(Window.unboundedPreceding, 0)
      posits
        .withColumn("av", last(when(col("side") === 1L, col("vm")),
          ignoreNulls = true).over(wFill))
        .withColumn("bv", last(when(col("side") === 0L, col("vm")),
          ignoreNulls = true).over(wFill))
        .where(col("av").isNotNull && col("bv").isNotNull)
        .withColumn("d", abs(col("av") - col("bv")))
        .withColumn("t2", lead("tus", 1).over(wT))
        .withColumn("dur", col("t2") - col("tus"))
        .withColumn("w", (col("d") <= eps).cast("long"))
        .withColumn("pw", lag("w", 1).over(wT))
        .withColumn("run_start",
          when(col("w") === 1L &&
            (col("pw").isNull || col("pw") === 0L), 1L).otherwise(0L))
        .groupBy("pair_id")
        .agg(count(lit(1)).as("n_sync"),
          min("d").as("d_min_milli"), max("d").as("d_max_milli"),
          coalesce(sum(when(col("t2").isNotNull, col("dur"))), lit(0L))
            .as("dur_us"),
          coalesce(sum(when(col("t2").isNotNull,
            col("d") * col("dur"))), lit(0L)).as("dnum"),
          sum("run_start").as("n_within"),
          coalesce(sum(when(col("w") === 1L && col("t2").isNotNull,
            col("dur"))), lit(0L)).as("within_us"))
        .where(col("dur_us") > 0L)
        .select(col("pair_id"), col("n_sync"), col("d_min_milli"),
          col("d_max_milli"), col("dur_us"),
          (col("dnum").cast("double") / col("dur_us").cast("double"))
            .as("mean_d_milli"),
          col("n_within"), col("within_us"))
        .orderBy("pair_id")
    }),

    // qs23 — twenty-third streaming path: the DISTRIBUTED-ingest
    // staging (no driver collect anywhere between the source table and
    // the streaming query — the production path; the other qs rows'
    // collect-based chunking is oracle scaffolding). Executor-written
    // part files drain in arbitrary micro-batches under a 365-day
    // delay, one later-stamped sentinel file finalizes; the emitted set
    // is qs3's day-window aggregate exactly.
    "qs23_dist_ingest" -> ((s, dir) =>
      graft.streaming.StreamingReplay.distributedIngestReplay(s, dir)),

    // qs24 — twenty-fourth streaming path: the stream-stream RIGHT
    // OUTER interval join, the last arm of the null-emission matrix
    // (qs8 inner / qs9 left / qs18 semi / qs11 full): unmatched
    // purchases emit once with a null click side when the watermark
    // proves no in-window click can arrive.
    "qs24_stream_right_outer" -> ((s, dir) =>
      graft.streaming.StreamingReplay
        .streamStreamRightOuterReplay(s, dir)),

    // qs25 — twenty-fifth streaming path: transformWithState
    // bootstrapped from INITIAL STATE (the store-migration path: seed
    // per-key state from a batch snapshot, stream only the delta).
    // Per-user totals equal the full batch count iff the seed landed.
    "qs25_tws_initial_state" -> ((s, dir) =>
      graft.streaming.StreamingReplay
        .transformWithInitialStateReplay(s, dir)),

    // qs27 — twenty-seventh streaming path: the DSv2 envelope
    // connector's STREAMING read (its third direction after q57's
    // batch write→read): sink-committed line files drained under a
    // maxFilesPerBatch rate limit, WKB-decoded in-stream; the emitted
    // set must equal the batch q57 rollup exactly.
    "qs27_envelope_stream" -> ((s, dir) =>
      graft.streaming.StreamingReplay.envelopeStreamReplay(s, dir)),

    // qs29 — twenty-ninth streaming path: STREAM-STATIC join with the
    // DSv2 envelope as the STATIC side — each micro-batch's plan runs
    // a v2 scan with column pruning and a PUSHED id filter (the
    // connector capabilities under the streaming planner, which no
    // other arm exercises); stateless enrichment, set equals the
    // batch join.
    "qs29_env_static_enrich" -> ((s, dir) =>
      graft.streaming.StreamingReplay
        .envelopeStaticEnrichReplay(s, dir)),

    // qs26 — twenty-sixth streaming path: the parquet FILE SINK (the
    // lake-ingest job every production stream ends in) with its
    // `_spark_metadata` exactly-once manifest under the hash gate — a
    // planted orphan part file in the sink dir hash-fails any read
    // path that trusts the listing over the manifest.
    "qs26_file_sink" -> ((s, dir) =>
      graft.streaming.StreamingReplay.fileSinkReplay(s, dir)),

    // q55 — BUCKETED co-located join (S9): the layout answer to the
    // shuffle question — both sides written bucketed-and-sorted by the
    // join key into the session catalog, so the sort-merge join reads
    // bucket-aligned files and needs NO Exchange on either side (the
    // 100 TB posture for a fact⋈dim join too big to broadcast: pay the
    // shuffle ONCE at write time, amortize it over every downstream
    // join). PlanSpec pins the no-Exchange plan; the oracle recomputes
    // from the raw table, so a bucket misroute (wrong hash, wrong
    // bucket count, dropped row) hash-fails.
    "q55_bucketed_join" -> ((s, dir) => {
      // EXTERNAL bucketed tables under the staged dir: the session
      // catalog dies with the JVM but a managed table's warehouse
      // LOCATION would not, and the next JVM's saveAsTable(overwrite)
      // refuses an orphaned location
      val (ft, dt) = Stage("q55-bucketed", dir) { base =>
        val tag = math.abs(dir.hashCode).toString +
          "_" + java.lang.ProcessHandle.current().pid()
        val (f, d) = (s"graft_fact_$tag", s"graft_dim_$tag")
        val ev = graft.Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("v_milli"))
        ev.write.mode("overwrite")
          .bucketBy(8, "user_id").sortBy("user_id")
          .option("path", s"$base/fact")
          .format("parquet").saveAsTable(f)
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"))
          .write.mode("overwrite")
          .bucketBy(8, "user_id").sortBy("user_id")
          .option("path", s"$base/dim")
          .format("parquet").saveAsTable(d)
        Some((f, d))
      }.get
      s.table(ft).where(col("event_type") === "purchase")
        .join(s.table(dt), "user_id")
        .groupBy("n_events")
        .agg(count(lit(1)).as("n_purchases"),
          sum("v_milli").as("v_milli"))
        .orderBy("n_events")
    }),

    // q56 — PARTITION PRUNING through a partitioned write (S10): the
    // landing-zone layout where a predicate on the partition column
    // must prune at PLANNING time (PartitionFilters, zero I/O on the
    // other partitions), not as a post-scan filter. The oracle
    // recomputes from the raw table — a row misrouted at write time or
    // a partition dropped by the pruner hash-fails. PlanSpec pins the
    // PartitionFilters entry.
    "q56_partition_prune" -> ((s, dir) => {
      // a partitionBy write of an EMPTY frame emits no part files at
      // all (nothing to infer a schema from on read-back) — the empty
      // landing zone returns the typed empty result directly
      Stage("q56-part", dir) { d =>
        val ev = graft.Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        if (ev.isEmpty) None
        else {
          ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
          Some(d)
        }
      } match {
        case None =>
          Tables.empty(s, "user_id BIGINT, n BIGINT, v_milli BIGINT")
        // the partitioned read keeps live schema inference: the
        // partition column's type comes from the directory layout, not
        // footers, so the footer-schema memo doesn't apply
        case Some(staged) => s.read.parquet(staged)
          .where(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
          .orderBy("user_id")
      }
    }),

    // q54 — UNPIVOT (the stack generator): the wide-to-long reshape
    // every metrics exporter and plotting layer runs after a rollup;
    // Spark's stack() is the generator form (one pass, no join), the
    // oracle is the explicit UNION ALL it desugars to. The melt
    // happens AFTER aggregation, so the generator multiplies
    // |event_type| rows by 3, never the corpus.
    "q54_unpivot" -> ((s, dir) =>
      graft.Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"),
          min(unix_micros(col("ts"))).as("t0_us"))
        .select(col("event_type"), expr(
          "stack(3, 'n', n, 'v_milli', v_milli, 't0_us', t0_us) " +
            "AS (metric, val)"))
        .orderBy("event_type", "metric")),

    // qs18 — eighteenth streaming path: stream-stream LEFT SEMI
    // interval join ("which clicks converted", one row per click) —
    // the matched-emit-once state arm qs8 (every pair) / qs9-qs11
    // (null emission) don't run. Oracle: batch EXISTS over the window.
    "qs18_stream_semi" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamStreamSemiReplay(s, dir)),

    // qs17 — seventeenth streaming path: HIERARCHICAL window
    // re-windowing (window(window_col, '1 day') — Spark 3.4+'s chained
    // time-window API), hour cells rolled into day windows inside ONE
    // streaming query; qs5 chains a second rollup on the SAME window,
    // this re-assigns to a coarser grid. Oracle: hour GROUP BY → day
    // GROUP BY, the exact batch equivalent.
    "qs17_rewindow_rollup" -> ((s, dir) =>
      graft.streaming.StreamingReplay.rewindowRollupReplay(s, dir)),

    // qs4 — fourth streaming path under the hash gate, covering the one
    // stateful family qs1-qs3 don't: dropDuplicatesWithinWatermark
    // (bounded keyed dedup state). Horizon > stream span ⇒ the emitted
    // set is exactly one survivor per distinct content fingerprint, so
    // a batch SELECT DISTINCT oracles the streaming state machinery
    // (duplicate emission or state loss across micro-batches would
    // hash-mismatch). The eviction/re-admission path is StreamingSpec's
    // planted test — it is chunk-timing-dependent by design.
    "qs4_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingReplay.dedupReplay(s, dir)),

    // qs5 — fifth streaming path under the hash gate: CHAINED stateful
    // aggregations (Spark 3.4+ multi-agg append mode — windowed term
    // counts feeding a second per-window rollup), the engine path
    // qs1-qs4's single-operator state doesn't touch. Synthesized
    // window-aligned event time makes every 2-minute window a fixed
    // doc_id range, so a batch GROUP BY + row_number twin oracles the
    // whole two-stage finalization machinery.
    "qs5_stream_topterms" -> ((s, dir) =>
      graft.streaming.StreamingReplay.topTermsReplay(s, dir)),

    // qs6 — sixth streaming path under the hash gate: the STREAM-STATIC
    // join (stateless per-row enrichment of the stream against a batch
    // frame — the streaming-ingest decontamination gate), the join
    // family qs1-qs5 don't touch. The emitted set equals batch gram-join
    // decontamination, so a batch SQL twin oracles it.
    "qs6_stream_static" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamStaticDecontamReplay(s, dir)),

    // qs7 — seventh streaming path under the hash gate: the BUILT-IN
    // session_window aggregation (engine-managed session-merge state),
    // the sessionization machinery qs1's hand-rolled
    // flatMapGroupsWithState gap logic deliberately bypasses. The
    // islands-and-gaps batch SQL oracles the merge rule exactly.
    "qs7_session_window" -> ((s, dir) =>
      graft.streaming.StreamingReplay.sessionWindowReplay(s, dir)),

    // qs8 — eighth streaming path under the hash gate: the STREAM-STREAM
    // event-time interval join (symmetric keyed join state on both
    // sides), the join family qs6's stream-static enrichment doesn't
    // touch — click→purchase attribution within a 6-hour window. The
    // emitted set is arrival-order-independent, so the batch interval
    // join oracles it exactly.
    "qs8_stream_stream" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamStreamJoinReplay(s, dir)),

    // qs9 — ninth streaming path under the hash gate: the stream-stream
    // LEFT OUTER interval join — the watermark-driven NULL-emission
    // machinery (unmatched clicks emit once their in-window purchase
    // horizon expires) that qs8's inner form never exercises. The
    // emitted set equals the batch left join, so its SQL oracles it.
    "qs9_stream_outer" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamStreamOuterReplay(s, dir)),

    // qs28 — 28th streaming row: CHAINED STATEFUL OPERATORS (interval
    // join → windowed agg in one query; see streamJoinThenWindowReplay)
    "qs28_join_then_window" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamJoinThenWindowReplay(s, dir)),

    // qs10 — tenth streaming path under the hash gate: the SLIDING
    // window aggregation (1h windows every 15min — each event
    // replicated into 4 overlapping windows), the windowing mode qs3's
    // tumbling and qs7's session coverage leave out. The twin derives
    // each event's 4 epoch-grid window starts with the same
    // floor-to-grid integer arithmetic Spark's slide assignment uses.
    "qs10_sliding_window" -> ((s, dir) =>
      graft.streaming.StreamingReplay.slidingWindowReplay(s, dir)),

    // qs11 — eleventh streaming path under the hash gate: the FULL
    // OUTER stream-stream interval join, completing the null-emission
    // matrix (qs8 inner, qs9 left): unmatched purchases ALSO emit one
    // null-padded row once the watermark passes their horizon. The
    // batch FULL JOIN over pre-filtered type slices oracles it.
    "qs11_stream_full_outer" -> ((s, dir) =>
      graft.streaming.StreamingReplay.streamStreamFullOuterReplay(s, dir)),

    // qs12 — twelfth streaming path under the hash gate: the Spark 4
    // transformWithState API (StatefulProcessor + ValueState on the
    // RocksDB store), the arbitrary-state surface that supersedes
    // (flat)mapGroupsWithState. The per-user running count is monotone,
    // so max-over-updates equals the batch count(*) whatever the
    // micro-batch chunking — that rollup is what the twin states.
    "qs12_transform_with_state" -> ((s, dir) =>
      graft.streaming.StreamingReplay.transformWithStateReplay(s, dir)),

    // qs13 — thirteenth streaming path: transformWithState MAP state
    // (per-(user, event_type) counters inside one grouping key — the
    // keyed-sub-state surface qs12's ValueState doesn't touch), same
    // monotone-count ⇒ max-over-updates oracle discipline.
    "qs13_tws_mapstate" -> ((s, dir) =>
      graft.streaming.StreamingReplay.transformWithStateMapReplay(s, dir)),

    // qs14 — fourteenth streaming path: transformWithState LIST state
    // (a trimmed last-3-event-id buffer per user — the ordered-
    // collection surface qs12/qs13 don't touch); the final buffer is
    // the max-running-n emission per key, oracled by the batch last-3
    // window.
    "qs14_tws_liststate" -> ((s, dir) =>
      graft.streaming.StreamingReplay.transformWithStateListReplay(s, dir)),

    // qs15 — fifteenth streaming path: the EVENT-TIME TIMER surface of
    // transformWithState (registerTimer / deleteTimer /
    // handleExpiredTimer under TimeMode.EventTime — the one streaming
    // family that was spec-only in round 9). Gap sessions close via the
    // in-batch gap rule mid-stream and via FIRED TIMERS at the tail
    // (one foreign-user sentinel advances the watermark; no per-user
    // sentinel closes anything, so the timer path is what's under
    // test). Emitted sessions equal q36's batch gap-split — same
    // oracle.
    "qs15_tws_timers" -> ((s, dir) =>
      graft.streaming.StreamingReplay.gapSessionTimerReplay(s, dir)),

    // qs16 — sixteenth streaming path: foreachBatch driving a REAL
    // keyed MERGE upsert into embedded Derby (the most-used production
    // sink API, previously uncovered). The merged columns are
    // associative+commutative, so the final table is provably
    // chunking-independent; a plain batch GROUP BY twins it.
    "qs16_stream_fb_upsert" -> ((s, dir) =>
      graft.streaming.StreamingReplay.foreachBatchUpsertReplay(s, dir)),

    // q22 — semi join (EXISTS)
    "q22_exists_semi" -> ((s, dir) => {
      val shipped = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= expr("timestamp '2000-01-01 00:00:00'"))
      Tables.orders(s, dir)
        .join(shipped, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey")
        .orderBy("o_orderkey")
    }),

    // q37 — CROSS-TABLE as-of join (q25 is the same-table window form):
    // every event picks up the payload of the user's latest signup at or
    // before it. One shuffle (union-tag + window), no range probe; the
    // oracle is DuckDB's NATIVE ASOF JOIN — an independent implementation
    // of the same semantics, not a mirror of our plan
    "q37_asof_join" -> ((s, dir) => {
      val events = Tables.events(s, dir)
        .select("event_id", "user_id", "ts")
      val signups = Tables.events(s, dir)
        .where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("event_id").as("signup_id"), col("value").as("signup_value"))
      graft.plans.AsofJoin.backward(events, signups,
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Seq("signup_id", "signup_value"), tieBreak = "signup_id")
        .orderBy("event_id")
    }),

    // q38 — forward as-of: each event finds the user's NEXT purchase at
    // or after it (lead-time analysis); same one-shuffle union-tag plan
    // with the time axis reversed, oracled against DuckDB's native
    // forward ASOF JOIN (e.ts <= p.ts)
    "q38_asof_forward" -> ((s, dir) => {
      val events = Tables.events(s, dir)
        .select("event_id", "user_id", "ts")
      val purchases = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      graft.plans.AsofJoin.forward(events, purchases,
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Seq("purchase_id", "purchase_value"),
        tieBreak = "purchase_id")
        .orderBy("event_id")
    }),

    // q39 — six-way star join (TPC-H Q5 shape: "local supplier volume"):
    // revenue from lineitems where the supplier and the ordering customer
    // sit in the same nation of one region, within a one-year window.
    // The scale story is Catalyst's, deliberately: nation/region carry
    // explicit broadcast hints (true fixed-size dims — 25/5 rows at ANY
    // scale factor), customer/supplier are left to AQE (they broadcast at
    // test SFs but legitimately shuffle at SF100k — hardcoding the hint
    // would lie at scale), the orders date filter pushes to the parquet
    // scan, and the agg is 25-key. PlanSpec asserts broadcasts fire and
    // no cartesian appears. Money folds through decimal(18,2)
    // (order-independent) per the oracle-parity rules.
    "q39_star_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val c = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).where(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * " +
            "(1 - cast(l_discount as decimal(18,2)))) as double)")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // q40 — volume shipping between a nation pair (TPC-H Q7 shape), by
    // year and direction. Scale-honest join order: the 2-row nation
    // filter broadcasts into supplier and customer FIRST, so the fact
    // joins only carry rows from the two nations (a semi-join pushdown
    // Catalyst can't infer from a post-join OR filter); the date range
    // pushes to the lineitem scan; the residual OR only excludes the
    // same-nation directions. Money folds through decimal(18,2).
    "q40_volume_shipping" -> ((s, dir) => {
      val na = "NATION_3"; val nb = "NATION_7"
      val n = Tables.nation(s, dir).where(col("n_name").isin(na, nb))
      val sup = Tables.supplier(s, dir)
        .join(broadcast(n.select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(n.select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .where((col("supp_nation") === na && col("cust_nation") === nb) ||
          (col("supp_nation") === nb && col("cust_nation") === na))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(
          expr("cast(sum(cast(l_extendedprice as decimal(18,2)) * " +
            "(1 - cast(l_discount as decimal(18,2)))) as double)")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // q41 — pivot (wide one-hot aggregation): events per user spread into
    // one count column per event_type. The value list is EXPLICIT, which
    // matters twice at scale: Spark skips the plan-time distinct scan it
    // otherwise runs to discover pivot values, and the whole pivot
    // compiles to ONE pass of conditional aggregates (map-side partial,
    // one shuffle on user_id) — never a per-type scan or join. Missing
    // (user, type) combos are 0, matching the oracle's count FILTER.
    "q41_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")))

  /** q42 — event-time bucketing (the batch twin of a tumbling window):
    * events rolled up to the hour with count + distinct users. One
    * hash-agg pair around one shuffle keyed by the truncated hour; the
    * distinct rides the same shuffle as a partial-distinct (expand)
    * stage, never a second scan. */
  private val q42 = Map[String, (SparkSession, String) => DataFrame](
    "q42_time_bucket" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("hour")),

    // explicit GROUPING SETS — the general form of q24's ROLLUP / q31's
    // CUBE: a hand-picked lattice (detail, one partial, grand total) in
    // ONE pass over the fact table (Spark expands sets into a single
    // Expand + aggregate — no N-scans union), with grouping_id()
    // disambiguating the all-null rows exactly like the SQL-standard
    // GROUPING() bit vector DuckDB computes
    "q43_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // TPC-H Q21 shape — the hardest correlated-subquery pattern in the
    // suite: one EXISTS and one NOT EXISTS against the SAME fact table
    // with different correlations ("suppliers whose returned line was the
    // ONLY returned line in a multi-supplier F-order"). Spark plans the
    // semi/anti pair as two shuffled joins on l_orderkey — both
    // re-partition the same fact scan, no correlated re-execution per
    // row (the subquery-per-row spelling would be |lineitem|× scans)
    "q44_waiting_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val l1 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      val anyOther = li
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val rOther = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      val fOrders = Tables.orders(s, dir)
        .where(col("o_orderstatus") === "F").select("o_orderkey")
      l1
        .join(fOrders, col("ok") === col("o_orderkey"), "left_semi")
        .join(anyOther,
          col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
        .join(rOther,
          col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
        .groupBy("sk").agg(count(lit(1)).as("numwait"))
        // supplier is SF-proportional (10k rows PER scale factor) — no
        // static broadcast hint (the q39 rule): AQE picks BHJ at test
        // SFs and SMJ at scale. Round13Spec pins the absence.
        .join(Tables.supplier(s, dir),
          col("sk") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(10)
    }),

    // ranked-report window family — ntile / percent_rank / cume_dist /
    // lag in ONE pass over a per-customer aggregate (deciles of "largest
    // order per customer"). The ranking measure is max(), not sum() —
    // order-independent, so the doubles are bit-stable across engines.
    // A global ranked report is inherently one ordered pass; the input
    // is already one row per customer (the heavy reduction happened in
    // the groupBy), which is what makes the single-partition window
    // acceptable at scale
    "q45_window_family" -> ((s, dir) => {
      // GLOBAL-WINDOW BOUND (inherent-global-report): ntile/percent_rank/
      // cume_dist over the whole customer-grain aggregate IS a total
      // order by definition — one ordered pass is the operator
      val w = Window.orderBy(desc("maxp"), col("o_custkey"))
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(max(col("o_totalprice")).as("maxp"),
          count(lit(1)).as("n_orders"))
        .select(col("o_custkey"), col("n_orders"), col("maxp"),
          ntile(10).over(w).cast("long").as("decile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          (lag(col("maxp"), 1).over(w) - col("maxp")).as("gap_above"))
        .orderBy("o_custkey")
    }),

    // multiset set ops — q27 covers the DISTINCT variants; INTERSECT ALL
    // keeps min(multiplicities) and EXCEPT ALL subtracts them, which
    // Spark plans as count-tagged aggregations + a generate (no distinct
    // collapse, no join explosion)
    "q46_multiset_ops" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      li.where(col("l_returnflag") === "R").select("l_partkey")
        .intersectAll(
          li.where(col("l_returnflag") === "A").select("l_partkey"))
        .exceptAll(li.where(col("l_quantity") > 45).select("l_partkey"))
        .orderBy("l_partkey")
    }),

    // UNPIVOT — the inverse of q41's pivot: wide per-flag measures fold
    // into (measure, value) rows via stack() (a Generate — one pass, no
    // union of N selects). Measures are count/sum-of-integer-valued/max —
    // all order-independent, so the doubles are bit-stable cross-engine
    "q47_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n_lines"),
          sum(col("l_quantity")).as("sum_qty"),
          max(col("l_extendedprice")).as("max_price"))
        .select(col("l_returnflag"),
          expr("stack(3, 'n_lines', n_lines, 'sum_qty', sum_qty, " +
            "'max_price', max_price) AS (measure, value)"))
        .orderBy("l_returnflag", "measure")),

    // the BUILT-IN session_window (q30 hand-rolls the same semantics
    // with lag + running sum — this pins the two against ONE DuckDB
    // twin, so the built-in's merge rule is cross-checked too). Spark's
    // session is [first, last+gap): an event at exactly prev_ts+gap
    // starts a NEW session, hence the >= in the twin's gap test
    "q48_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "5 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("s_start"),
          col("sw.end").as("s_end"), col("n_events"))
        .orderBy("user_id", "s_start")),

    // TPC-H Q17 shape — correlated AGGREGATE subquery ("lineitems below
    // 20% of their part's average quantity"), decorrelated the way
    // Catalyst itself plans it: the per-part threshold aggregate joined
    // back on partkey, never a per-row subquery re-execution. Quantities
    // are integral-valued doubles → the avg's sum is exact in any order;
    // the money sum goes through DECIMAL (q21's discipline) so the
    // one-row result is bit-stable
    "q49_below_avg_qty" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val th = li.groupBy("l_partkey")
        .agg((avg(col("l_quantity")) * 0.2).as("thresh"))
      li.join(th, "l_partkey")
        .where(col("l_quantity") < col("thresh"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0).as("avg_yearly"))
        // zero qualifying rows -> zero result rows, not one null row
        // (empty-input contract); the twin's HAVING count(*) > 0 matches
        .where(col("avg_yearly").isNotNull)
    }),

    // correlated LATERAL subquery with ORDER BY + LIMIT — "top-2
    // customers by lifetime spend per nation", the per-group top-k shape
    // SQL users reach for before they learn window functions. Catalyst
    // decorrelates the lateral into a join + per-partition limit (no
    // per-nation re-execution), so the plan scales like the window
    // formulation. Money through DECIMAL (q21's discipline) keeps the
    // spend — and therefore the top-2 cut — bit-deterministic.
    "q50_lateral_topk" -> ((s, dir) => {
      Tables.nation(s, dir).createOrReplaceTempView("q50_nation")
      Tables.customer(s, dir).createOrReplaceTempView("q50_customer")
      Tables.orders(s, dir).createOrReplaceTempView("q50_orders")
      s.sql(
        """SELECT n.n_name, t.c_name, t.spend
          |FROM q50_nation n
          |JOIN LATERAL (
          |  SELECT c.c_name AS c_name,
          |         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
          |           AS DOUBLE) AS spend
          |  FROM q50_customer c
          |  JOIN q50_orders o ON o.o_custkey = c.c_custkey
          |  WHERE c.c_nationkey = n.n_nationkey
          |  GROUP BY c.c_name
          |  ORDER BY spend DESC, c_name
          |  LIMIT 2
          |) t
          |ORDER BY n.n_name, t.spend DESC, t.c_name""".stripMargin)
    }),

    // WITH RECURSIVE calendar spine — the report-hardening shape ("show
    // every month, including empty ones") that needs row GENERATION, not
    // just aggregation: recursively unroll month starts across the
    // OBSERVED date range (HAVING count(*) > 0 keeps the anchor empty on
    // empty input → empty output, the suite-wide contract), left-join
    // the monthly order counts. The loop itself is ~n_months rows; the
    // fact-side rollup is the only distributed work at any scale.
    "q51_recursive_spine" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("q51_orders")
      // the default cteRecursionLevelLimit (100) caps the spine at ~8
      // years of months — raise it so a century-scale date range still
      // unrolls (the loop stays ~n_months rows either way). SCOPED: the
      // override must not leak into the shared session (any later
      // recursive CTE would silently inherit a 24× deeper limit), so
      // restore the previous value once the plan is materialized below.
      val key = "spark.sql.cteRecursionLevelLimit"
      val saved = s.conf.get(key)
      try {
        s.conf.set(key, "2400")
        val df = s.sql(
          """WITH RECURSIVE b AS (
            |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE)
            |           AS lo,
            |         CAST(date_trunc('month', max(o_orderdate)) AS DATE)
            |           AS hi
            |  FROM q51_orders HAVING count(*) > 0),
            |m(mon, hi) AS (
            |  SELECT lo, hi FROM b
            |  UNION ALL
            |  SELECT add_months(mon, 1), hi FROM m WHERE mon < hi
            |)
            |SELECT m.mon AS mon, coalesce(o.n, CAST(0 AS BIGINT))
            |         AS n_orders
            |FROM m LEFT JOIN (
            |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
            |         count(*) AS n
            |  FROM q51_orders GROUP BY 1) o
            |ON o.mon = m.mon
            |ORDER BY m.mon""".stripMargin)
        // the limit is consulted at EXECUTION, not analysis — materialize
        // inside the scope (the spine is n_months rows at any scale:
        // a century is 1200 rows) so the restore below can't regress a
        // deep unroll executed later
        s.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
      } finally s.conf.set(key, saved)
    }))

  private val q42Oracle = Map(
    "q42_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY hour ORDER BY hour""".stripMargin,

    "q43_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS qty,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    // grouped on s_suppkey (projecting s_name after), mirroring the Spark
    // plan's aggregate-on-key-then-join — grouping on s_name would only
    // agree while supplier names stay unique
    "q44_waiting_supplier" ->
      """WITH w AS (
        |  SELECT l1.l_suppkey AS sk, CAST(count(*) AS BIGINT) AS numwait
        |  FROM lineitem l1
        |  WHERE l1.l_returnflag = 'R'
        |    AND EXISTS (SELECT 1 FROM orders o
        |                WHERE o.o_orderkey = l1.l_orderkey
        |                  AND o.o_orderstatus = 'F')
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_returnflag = 'R')
        |  GROUP BY l1.l_suppkey)
        |SELECT s.s_name AS s_name, w.numwait AS numwait
        |FROM w JOIN supplier s ON s.s_suppkey = w.sk
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin,

    "q45_window_family" ->
      """WITH spend AS (
        |  SELECT o_custkey, max(o_totalprice) AS maxp,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, n_orders, maxp,
        |  CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist,
        |  lag(maxp, 1) OVER w - maxp AS gap_above
        |FROM spend
        |WINDOW w AS (ORDER BY maxp DESC, o_custkey)
        |ORDER BY o_custkey""".stripMargin,

    "q46_multiset_ops" ->
      """SELECT l_partkey FROM (
        |  (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        |   INTERSECT ALL
        |   SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A')
        |  EXCEPT ALL
        |  SELECT l_partkey FROM lineitem WHERE l_quantity > 45
        |) t ORDER BY l_partkey""".stripMargin,

    "q47_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n_lines,
        |         sum(l_quantity) AS sum_qty,
        |         max(l_extendedprice) AS max_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value
        |FROM wide UNPIVOT (value FOR measure IN (n_lines, sum_qty,
        |                                         max_price))
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q48_session_window" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS s_start,
        |       max(ts) + INTERVAL 5 MINUTE AS s_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    "q49_below_avg_qty" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |         AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)
        |HAVING count(*) > 0""".stripMargin,

    "q50_lateral_topk" ->
      """SELECT n.n_name, t.c_name, t.spend
        |FROM nation n
        |JOIN LATERAL (
        |  SELECT c.c_name AS c_name,
        |         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
        |           AS DOUBLE) AS spend
        |  FROM customer c
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  WHERE c.c_nationkey = n.n_nationkey
        |  GROUP BY c.c_name
        |  ORDER BY spend DESC, c_name
        |  LIMIT 2
        |) t ON true
        |ORDER BY n.n_name, t.spend DESC, t.c_name""".stripMargin,

    "q51_recursive_spine" ->
      """WITH RECURSIVE b AS (
        |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE)
        |           AS lo,
        |         CAST(date_trunc('month', max(o_orderdate)) AS DATE)
        |           AS hi
        |  FROM orders HAVING count(*) > 0),
        |m(mon, hi) AS (
        |  SELECT lo, hi FROM b
        |  UNION ALL
        |  SELECT CAST(mon + INTERVAL 1 MONTH AS DATE), hi FROM m
        |  WHERE mon < hi
        |)
        |SELECT m.mon AS mon, coalesce(o.n, CAST(0 AS BIGINT)) AS n_orders
        |FROM m LEFT JOIN (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1) o
        |ON o.mon = m.mon
        |ORDER BY m.mon""".stripMargin)

  /** q37's backward-as-of ground truth (DuckDB's NATIVE ASOF JOIN) —
    * shared verbatim by the batch operator and the streaming replay
    * (qs2): one oracle, two engines. */
  private val AsofBackwardSql =
    """WITH s AS (
      |  SELECT user_id, ts, event_id AS signup_id, value AS signup_value
      |  FROM events WHERE event_type = 'signup'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |    ORDER BY event_id DESC) = 1)
      |SELECT e.event_id, e.user_id, e.ts,
      |       s.signup_id AS asof_signup_id,
      |       s.signup_value AS asof_signup_value
      |FROM events e
      |ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ts >= s.ts
      |ORDER BY e.event_id""".stripMargin

  /** q36's gap-split ground truth — shared verbatim by the batch query
    * and the streaming replay (qs1): one oracle, two engines. */
  private val GapSplitSql =
    """WITH ded AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |           row_number() OVER (PARTITION BY user_id, ts
      |             ORDER BY event_id) AS rn
      |    FROM events)
      |  WHERE rn = 1),
      |m AS (
      |  SELECT user_id, epoch_us(ts) AS us, value,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |                PARTITION BY user_id ORDER BY ts) >= 3600000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM ded),
      |g AS (
      |  SELECT user_id, us, value,
      |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS seg
      |  FROM m)
      |SELECT user_id, seg, count(*) AS n, min(us) AS t0_us,
      |       max(us) AS t1_us, min(value) AS xmin, max(value) AS xmax
      |FROM g GROUP BY user_id, seg ORDER BY user_id, seg""".stripMargin

  def oracle: Map[String, String] = q42Oracle ++ Map(
    "q01_scan_project" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum, l_quantity AS qty,
        | coalesce(l_returnflag, 'X') AS rflag
        |FROM lineitem ORDER BY okey, lnum""".stripMargin,

    "q02_group_count" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q03_group_sorted_times" ->
      """SELECT user_id,
        |  array_to_string(list(epoch_us(ts) ORDER BY ts), ',') AS ts_list
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q04_posit_concat" ->
      """SELECT event_id, printf('%.2f %d', value, user_id) AS posit
        |FROM events ORDER BY event_id""".stripMargin,

    "q05_having_min_size" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id HAVING count(*) > 66 ORDER BY user_id""".stripMargin,

    "q06_sort_by_len" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY n DESC, user_id""".stripMargin,

    "q07_limit_topk" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""".stripMargin,

    "q08_dedup_consecutive" ->
      """SELECT event_id, user_id, ts FROM (
        |  SELECT event_id, user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events)
        |WHERE pts IS NULL OR ts <> pts ORDER BY event_id""".stripMargin,

    "q09_monotonic_filter" ->
      """SELECT event_id, user_id, ts FROM (
        |  SELECT event_id, user_id, ts,
        |         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM events)
        |WHERE pm IS NULL OR ts > pm ORDER BY event_id""".stripMargin,

    "q10_union_filter" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin,

    "q11_chunk_batches" ->
      """SELECT user_id, chunk, count(*) AS n, min(ts) AS t0, max(ts) AS t1
        |FROM (
        |  SELECT user_id, ts,
        |         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          - 1) // 50 AS chunk
        |  FROM events)
        |GROUP BY user_id, chunk ORDER BY user_id, chunk""".stripMargin,

    "q12_trip_assembly" ->
      """SELECT user_id,
        |       array_to_string(list(epoch_us(ts) ORDER BY ts), ',') AS ts_list,
        |       array_to_string(list(value ORDER BY ts), ',') AS v_list,
        |       count(*) AS n
        |FROM (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |           row_number() OVER (PARTITION BY user_id, ts
        |             ORDER BY event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q13_tbox_agg" ->
      """SELECT user_id, min(value) AS vmin, max(value) AS vmax,
        |       min(ts) AS tmin, max(ts) AS tmax
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q14_stbox_agg" ->
      """SELECT l_orderkey AS okey,
        |       min(l_quantity) AS xmin, max(l_quantity) AS xmax,
        |       min(l_extendedprice) AS ymin, max(l_extendedprice) AS ymax,
        |       min(l_shipdate) AS tmin, max(l_shipdate) AS tmax
        |FROM lineitem GROUP BY l_orderkey ORDER BY okey""".stripMargin,

    "q15_box_overlaps" ->
      """WITH b AS (
        |  SELECT user_id, min(value) AS vmin, max(value) AS vmax,
        |         min(ts) AS tmin, max(ts) AS tmax
        |  FROM events GROUP BY user_id)
        |SELECT a.user_id AS u1, c.user_id AS u2
        |FROM b a JOIN b c
        |  ON a.user_id < c.user_id
        | AND a.vmin <= c.vmax AND c.vmin <= a.vmax
        | AND a.tmin <= c.tmax AND c.tmin <= a.tmax
        |ORDER BY u1, u2""".stripMargin,

    "q16_box_contains" ->
      """SELECT user_id FROM (
        |  SELECT user_id, min(value) AS vmin, max(value) AS vmax,
        |         min(ts) AS tmin, max(ts) AS tmax
        |  FROM events GROUP BY user_id)
        |WHERE vmin <= 50 AND 150 <= vmax
        |  AND tmin <= TIMESTAMP '2024-01-10 00:00:00'
        |  AND TIMESTAMP '2024-01-20 00:00:00' <= tmax
        |ORDER BY user_id""".stripMargin,

    "q17_start_ts_last_type" ->
      """SELECT user_id, min(ts) AS start_ts,
        |       max(CASE WHEN rn = 1 THEN event_type END) AS last_type
        |FROM (
        |  SELECT user_id, ts, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q18_temporal_eq" ->
      """SELECT user_id, true AS eq FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // identical result to q12: disjoint time slices, merge-append, and
    // within-slice dedupe compose to whole-table assembly semantics
    "q19_merge_trips" ->
      """SELECT user_id,
        |       array_to_string(list(epoch_us(ts) ORDER BY ts), ',') AS ts_list,
        |       array_to_string(list(value ORDER BY ts), ',') AS v_list,
        |       count(*) AS n
        |FROM (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |           row_number() OVER (PARTITION BY user_id, ts
        |             ORDER BY event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q20_upsert_merge" ->
      """WITH o AS (
        |  SELECT user_id, count(*) AS n, min(ts) AS tmin, max(ts) AS tmax
        |  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id),
        |n AS (
        |  SELECT user_id, count(*) AS n, min(ts) AS tmin, max(ts) AS tmax
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY user_id)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |       coalesce(o.n, 0) + coalesce(n.n, 0) AS n,
        |       least(coalesce(o.tmin, n.tmin), coalesce(n.tmin, o.tmin)) AS tmin,
        |       greatest(coalesce(o.tmax, n.tmax), coalesce(n.tmax, o.tmax)) AS tmax
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
        |ORDER BY user_id""".stripMargin,

    "q23_tpoint_assembly" ->
      """SELECT user_id,
        |       array_to_string(list(epoch_us(ts) ORDER BY ts), ',') AS ts_list,
        |       array_to_string(list(value ORDER BY ts), ',') AS x_list,
        |       array_to_string(list(y ORDER BY ts), ',') AS y_list,
        |       count(*) AS n
        |FROM (
        |  SELECT user_id, ts, value, y FROM (
        |    SELECT user_id, ts, value,
        |           CAST(length(props) AS DOUBLE) AS y,
        |           row_number() OVER (PARTITION BY user_id, ts
        |             ORDER BY event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q21_join_revenue" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q24_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(l_quantity) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "q25_asof_last_signup" ->
      """SELECT event_id, user_id, ts,
        |       max(CASE WHEN event_type = 'signup' THEN ts END)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS asof_signup
        |FROM events ORDER BY event_id""".stripMargin,

    "q26_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q27_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'click' AND value > 400
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 400
        |ORDER BY user_id""".stripMargin,

    "q28_percentiles" ->
      """SELECT event_type,
        |       quantile_cont(value, 0.5) AS p50,
        |       quantile_cont(value, 0.9) AS p90,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q29_trip_stats" ->
      """WITH ded AS (
        |  SELECT user_id, ts, value, CAST(length(props) AS DOUBLE) AS y
        |  FROM (
        |    SELECT user_id, ts, value, props,
        |           row_number() OVER (PARTITION BY user_id, ts
        |             ORDER BY event_id) AS rn
        |    FROM events)
        |  WHERE rn = 1),
        |l AS (
        |  SELECT user_id,
        |         list(epoch_us(ts) ORDER BY ts) AS t,
        |         list(value ORDER BY ts) AS xs,
        |         list(y ORDER BY ts) AS ys
        |  FROM ded GROUP BY user_id)
        |SELECT user_id,
        |  CAST(t[-1] - t[1] AS DOUBLE) / 1e6 AS duration_s,
        |  list_reduce(list_transform(range(len(xs) - 1), i ->
        |      sqrt((xs[i+2] - xs[i+1]) * (xs[i+2] - xs[i+1])
        |         + (ys[i+2] - ys[i+1]) * (ys[i+2] - ys[i+1]))),
        |    (a, b) -> a + b) AS path_len,
        |  CASE WHEN CAST(t[-1] - t[1] AS DOUBLE) / 1e6 > 0 THEN
        |    list_reduce(list_transform(range(len(xs) - 1), i ->
        |        sqrt((xs[i+2] - xs[i+1]) * (xs[i+2] - xs[i+1])
        |           + (ys[i+2] - ys[i+1]) * (ys[i+2] - ys[i+1]))),
        |      (a, b) -> a + b) / (CAST(t[-1] - t[1] AS DOUBLE) / 1e6)
        |  END AS avg_speed,
        |  CASE WHEN len(t) >= 2 THEN
        |    CAST(list_max(list_transform(range(len(t) - 1),
        |      i -> t[i+2] - t[i+1])) AS DOUBLE) / 1e6
        |  END AS max_gap_s
        |FROM l ORDER BY user_id""".stripMargin,

    "q30_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n, min(ts) AS t0,
        |       max(ts) AS t1
        |FROM (
        |  SELECT user_id, ts, event_id,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id)
        |             > 3600000000
        |           OR lag(epoch_us(ts)) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           THEN 1 ELSE 0 END AS new_sess
        |    FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q31_cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,

    "q32_rolling_window" ->
      """SELECT event_id, user_id,
        |       count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |         AS n_1h
        |FROM events ORDER BY event_id""".stripMargin,

    "q33_scalar_subquery" ->
      """SELECT o_orderkey FROM orders
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT count(*) FROM orders) >
        |      (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q34_not_exists_anti" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q35_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        |       replace(p_type, ' ', '_') AS type_u,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       substr(p_name, 1, 5) AS name5
        |FROM part
        |WHERE p_type LIKE '%ECONOMY%' OR p_name LIKE '%red%'
        |ORDER BY p_partkey""".stripMargin,

    // the relational twin of assemble→gapSegments→rollup: dedupe (user, ts)
    // keeping the smallest event_id (the assembly rule), mark >= 1h breaks,
    // running-sum them into segment ids, aggregate per segment
    "q36_gap_split" -> GapSplitSql,

    // the streaming replay is oracled by the SAME gap-split SQL — the
    // whole point: stream output must hash-match the batch ground truth
    "qs1_stream_replay" -> GapSplitSql,

    // the timer-surface replay closes the SAME sessions (in-batch gap
    // rule mid-stream, fired event-time timers at the tail), so it is
    // oracled by the same gap-split SQL as q36/qs1
    "qs15_tws_timers" -> GapSplitSql,

    // the foreachBatch MERGE upsert accumulates count/min/max per key —
    // associative+commutative, so whatever the chunking, the stored
    // table equals the plain batch rollup
    "qs16_stream_fb_upsert" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS tmin_us,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS tmax_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q22_exists_semi" ->
      """SELECT o_orderkey FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY o_orderkey""".stripMargin,

    "q37_asof_join" -> AsofBackwardSql,

    // same-oracle discipline as qs1/q36: the streaming as-of replay must
    // hash-match DuckDB's native ASOF JOIN over the same rows
    "qs2_stream_asof" -> AsofBackwardSql,

    // the streaming windowed agg must hash-match the batch GROUP BY over
    // day buckets; floor(value*1000) keeps the sum in exact integer
    // arithmetic so no float-accumulation-order slack exists to hide in
    "qs3_stream_window" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |         AS v_milli
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    // AvailableNow must emit exactly qs3's set through its own trigger
    "qs19_available_now" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |         AS v_milli
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    // the unioned two-source stream must emit the batch day×origin
    // counts with the parity tag recomputed
    "qs20_stream_union" ->
      """SELECT date_trunc('day', ts) AS day,
        |       CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS src,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY day, src
        |ORDER BY day, src""".stripMargin,

    // the ORC roundtrip must be LOSSLESS: the oracle reads the original
    // parquet; any timestamp/value drift through write-orc → read-orc
    // hash-fails
    "q52_orc_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli,
        |  CAST(epoch_us(min(ts)) AS BIGINT) AS t0_us,
        |  CAST(epoch_us(max(ts)) AS BIGINT) AS t1_us
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the merged read must surface NULL ingest_v/value for gen-1 rows
    // and the originals for gen-2 — recomputed here from the source
    // table with the same parity rule
    "q53_schema_evolution" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_evolved,
        |  CAST(sum(CASE WHEN event_id % 2 = 1
        |    THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS v_milli
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Update mode's per-key max-n row = the whole-input aggregate
    "qs22_update_mode" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the pivot's conditional-aggregation desugaring
    "q58_pivot" ->
      """SELECT day,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click'
        |    THEN vm END), 0) AS BIGINT) AS click,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view'
        |    THEN vm END), 0) AS BIGINT) AS view,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN vm END), 0) AS BIGINT) AS purchase,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'signup'
        |    THEN vm END), 0) AS BIGINT) AS signup,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'error'
        |    THEN vm END), 0) AS BIGINT) AS error
        |FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |        AS BIGINT) AS day, event_type,
        |      CAST(floor(value * 1000) AS BIGINT) AS vm FROM events)
        |GROUP BY day ORDER BY day""".stripMargin,

    // DuckDB runs the same LATERAL natively
    "q59_lateral_topk" ->
      """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 2) l ON TRUE
        |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey"""
        .stripMargin,

    // the same value-based interval frame natively
    "q63_interval_frame" ->
      """SELECT event_id, user_id, ts,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_trailing_1h
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // the CSV roundtrip must be lossless: the oracle reads the original
    // parquet, so quote/escape/precision loss hash-fails
    "q61_csv_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(epoch_us(ts)) AS us_min, max(epoch_us(ts)) AS us_max,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli,
        |  CAST(sum(strlen(props)) AS BIGINT) AS props_len,
        |  CAST(count(DISTINCT props) AS BIGINT) AS props_card
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the same five rules recomputed relationally; each anchors on its
    // base table via a constant group
    "q62_fk_quality_audit" ->
      """SELECT * FROM (
        |  SELECT 'lineitem_nonpositive_qty' AS rule,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM lineitem GROUP BY rule
        |  UNION ALL
        |  SELECT 'lineitem_orphan_orderkey' AS rule,
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM lineitem l LEFT JOIN orders o
        |    ON o.o_orderkey = l.l_orderkey
        |  GROUP BY rule
        |  UNION ALL
        |  SELECT 'orders_dup_pk' AS rule,
        |    CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
        |      AS n_violations
        |  FROM (SELECT o_orderkey, CAST(count(*) AS BIGINT) AS cnt
        |        FROM orders GROUP BY o_orderkey)
        |  GROUP BY rule
        |  UNION ALL
        |  SELECT 'orders_nonpositive_total' AS rule,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM orders GROUP BY rule
        |  UNION ALL
        |  SELECT 'orders_orphan_custkey' AS rule,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM orders o LEFT JOIN customer c
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY rule)
        |ORDER BY rule""".stripMargin,

    // the map roundtrip must preserve GROUP BY + HAVING semantics
    "q60_map_roundtrip" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id, event_type
        |HAVING count(*) >= 2
        |ORDER BY user_id, event_type""".stripMargin,

    // q57's roundtrip-identity oracle (the qc1 rule): rows survive only
    // when encode∘decode == payload through the WRITE → DSv2 READ loop;
    // the surviving facts are recomputed relationally, so any connector
    // or codec fault drops rows and fails the row/hash compare
    "q57_trip_envelope_scan" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n,
        |       min(epoch_us(ts)) AS t0_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // one envelope line per user; the pushed COUNT over the id range
    // replayed as a distinct-user count
    "q87_envelope_count" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_env
        |FROM events WHERE user_id < 100""".stripMargin,

    // the pushed id range replayed as a plain predicate on the source
    "q84_envelope_pushdown" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n,
        |       min(epoch_us(ts)) AS t0_us
        |FROM events WHERE user_id >= 3 AND user_id < 100
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the stream-static enrich replayed relationally: per user under
    // the pushed id range, event count + the trip's instant count
    "qs29_env_static_enrich" ->
      """WITH env AS (
        |  SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n_inst
        |  FROM events WHERE user_id < 120 GROUP BY user_id),
        |ev AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id, e.n_ev, v.n_inst
        |FROM ev e JOIN env v USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // the limited count's one deterministic consequence: min(limit,
    // table size) — one envelope line per user
    "q94_envelope_limit" ->
      """SELECT CAST(least(7, count(DISTINCT user_id)) AS BIGINT)
        |  AS n_limited FROM events""".stripMargin,

    // the pushed top-7 by id, replayed over the per-user rollup
    // (id is unique, so the set is deterministic)
    "q101_envelope_topn" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n
        |FROM events GROUP BY user_id
        |ORDER BY user_id LIMIT 7""".stripMargin,

    // q95 — identical dedupe + step-truth windows; closed-segment
    // durations and lag-based run starts
    "q95_when_true" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus,
        |    CASE WHEN vm > 250000 THEN 1 ELSE 0 END AS c,
        |    lag(CASE WHEN vm > 250000 THEN 1 ELSE 0 END) OVER w AS pc,
        |    lead(tus) OVER w AS t2
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |a AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_true,
        |    CAST(coalesce(sum(CASE WHEN c = 1 AND t2 IS NOT NULL
        |      THEN t2 - tus END), 0) AS BIGINT) AS true_us,
        |    CAST(sum(CASE WHEN c = 1 AND (pc IS NULL OR pc = 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_periods
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n_true, true_us, n_periods
        |FROM a WHERE n_true > 0 ORDER BY user_id""".stripMargin,

    // q103 — identical dedupe + segment windows; every crossing split
    // is the same positive-operand cross-multiplied integer division
    "q103_linear_when_true" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm,
        |    lead(tus) OVER w AS t2, lead(vm) OVER w AS v2,
        |    row_number() OVER w AS rn
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN t2 IS NULL THEN 0
        |      WHEN vm > 250000 AND v2 > 250000 THEN t2 - tus
        |      WHEN vm > 250000 THEN
        |        ((t2 - tus) * (vm - 250000)) // (vm - v2)
        |      WHEN v2 > 250000 THEN
        |        ((t2 - tus) * (v2 - 250000)) // (v2 - vm)
        |      ELSE 0 END AS true_seg,
        |    CASE WHEN t2 IS NOT NULL AND vm <= 250000 AND v2 > 250000
        |      THEN 1 ELSE 0 END AS up,
        |    CASE WHEN t2 IS NOT NULL AND vm > 250000 AND v2 <= 250000
        |      THEN 1 ELSE 0 END AS dn,
        |    CASE WHEN t2 IS NOT NULL AND vm <= 250000 AND v2 > 250000
        |      THEN tus + ((250000 - vm) * (t2 - tus)) // (v2 - vm)
        |      END AS up_t,
        |    CASE WHEN rn = 1 AND vm > 250000 THEN 1 ELSE 0 END AS it
        |  FROM p)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_posits,
        |  CAST(coalesce(sum(true_seg), 0) AS BIGINT) AS true_us_lin,
        |  CAST(coalesce(sum(up), 0) + max(it) AS BIGINT)
        |    AS n_periods_lin,
        |  CAST(coalesce(sum(up), 0) AS BIGINT) AS n_up,
        |  CAST(coalesce(sum(dn), 0) AS BIGINT) AS n_down,
        |  CAST(min(up_t) AS BIGINT) AS first_up_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q104 — the same merged-timeline brackets (RANGE frames + IGNORE
    // NULLS fills) and the same dt-cancelled endpoint-numerator
    // arithmetic, in HUGEINT where Spark carries DECIMAL(38,0)
    "q104_linear_compare" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus,
        |    last_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wp AS pa_t,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wp AS pa_v,
        |    last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wp AS pb_t,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wp AS pb_v,
        |    first_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wn AS na_t,
        |    first_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wn AS na_v,
        |    first_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wn AS nb_t,
        |    first_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wn AS nb_v,
        |    lead(tus) OVER wo AS t2
        |  FROM p
        |  WINDOW wp AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |  wo AS (PARTITION BY pair_id ORDER BY tus, user_id, event_id)),
        |g AS (
        |  SELECT pair_id, t2 - tus AS dt,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (tus - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (tus - pb_t)) *
        |      (na_t - pa_t) AS n1,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (t2 - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (t2 - pb_t)) *
        |      (na_t - pa_t) AS n2,
        |    CAST(na_v - pa_v AS HUGEINT) * (nb_t - pb_t) -
        |    CAST(nb_v - pb_v AS HUGEINT) * (na_t - pa_t) AS ss
        |  FROM f
        |  WHERE pa_t IS NOT NULL AND pb_t IS NOT NULL
        |    AND na_t IS NOT NULL AND nb_t IS NOT NULL
        |    AND t2 IS NOT NULL),
        |h AS (
        |  SELECT pair_id, n1, n2,
        |    CASE WHEN n1 < 0 AND n2 < 0 THEN dt
        |      WHEN n1 < 0 AND n2 >= 0 THEN CAST((-n1) // ss AS BIGINT)
        |      WHEN n1 >= 0 AND n2 < 0 THEN CAST((-n2) // (-ss) AS BIGINT)
        |      ELSE 0 END AS lt_seg,
        |    CASE WHEN n1 > 0 AND n2 > 0 THEN dt
        |      WHEN n1 > 0 AND n2 <= 0 THEN CAST(n1 // (-ss) AS BIGINT)
        |      WHEN n1 <= 0 AND n2 > 0 THEN CAST(n2 // ss AS BIGINT)
        |      ELSE 0 END AS gt_seg,
        |    CASE WHEN n1 = 0 AND n2 = 0 THEN dt ELSE 0 END AS eq_seg
        |  FROM g)
        |SELECT pair_id, CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(sum(lt_seg) AS BIGINT) AS lt_us,
        |  CAST(sum(eq_seg) AS BIGINT) AS eq_us,
        |  CAST(sum(gt_seg) AS BIGINT) AS gt_us,
        |  CAST(sum(CASE WHEN n1 < 0 AND n2 > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_up,
        |  CAST(sum(CASE WHEN n1 > 0 AND n2 < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_down
        |FROM h GROUP BY pair_id ORDER BY pair_id""".stripMargin,

    // q109 — the q104/q107 segment CTE widened with the y-value fills
    // (same brackets); quantized displacements via the OFFSET floor,
    // the exact quadratic vertex in HUGEINT, q80's min-then-instant
    // tie pattern
    "q109_linear_nad" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    CAST(len(props) AS BIGINT) AS ym,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm, ym,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus,
        |    last_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wp AS pa_t,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wp AS pa_v,
        |    last_value(CASE WHEN side = 1 THEN ym END IGNORE NULLS)
        |      OVER wp AS pa_yv,
        |    last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wp AS pb_t,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wp AS pb_v,
        |    last_value(CASE WHEN side = 0 THEN ym END IGNORE NULLS)
        |      OVER wp AS pb_yv,
        |    first_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wn AS na_t,
        |    first_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wn AS na_v,
        |    first_value(CASE WHEN side = 1 THEN ym END IGNORE NULLS)
        |      OVER wn AS na_yv,
        |    first_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wn AS nb_t,
        |    first_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wn AS nb_v,
        |    first_value(CASE WHEN side = 0 THEN ym END IGNORE NULLS)
        |      OVER wn AS nb_yv,
        |    lead(tus) OVER wo AS t2
        |  FROM p
        |  WINDOW wp AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |  wo AS (PARTITION BY pair_id ORDER BY tus, user_id, event_id)),
        |g AS (
        |  SELECT pair_id, tus, t2, t2 - tus AS dt,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (tus - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (tus - pb_t)) *
        |      (na_t - pa_t) AS n1,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (t2 - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (t2 - pb_t)) *
        |      (na_t - pa_t) AS n2,
        |    (CAST(pa_yv AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_yv - pa_yv AS HUGEINT) * (tus - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_yv AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_yv - pb_yv AS HUGEINT) * (tus - pb_t)) *
        |      (na_t - pa_t) AS ny1,
        |    (CAST(pa_yv AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_yv - pa_yv AS HUGEINT) * (t2 - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_yv AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_yv - pb_yv AS HUGEINT) * (t2 - pb_t)) *
        |      (na_t - pa_t) AS ny2,
        |    CAST(na_t - pa_t AS HUGEINT) * (nb_t - pb_t) AS dadb
        |  FROM f
        |  WHERE pa_t IS NOT NULL AND pb_t IS NOT NULL
        |    AND na_t IS NOT NULL AND nb_t IS NOT NULL
        |    AND t2 IS NOT NULL),
        |h AS (
        |  SELECT pair_id, tus, t2, dt,
        |    CAST((n1 + 10000000 * dadb) // dadb - 10000000
        |      AS BIGINT) AS dx1,
        |    CAST((n2 + 10000000 * dadb) // dadb - 10000000
        |      AS BIGINT) AS dx2,
        |    1000 * CAST((ny1 + 10000000 * dadb) // dadb - 10000000
        |      AS BIGINT) AS dy1,
        |    1000 * CAST((ny2 + 10000000 * dadb) // dadb - 10000000
        |      AS BIGINT) AS dy2
        |  FROM g),
        |k AS (
        |  SELECT pair_id,
        |    CASE WHEN aa = 0 OR bb >= 0 THEN cc
        |      WHEN -bb >= 2 * aa THEN dx2 * dx2 + dy2 * dy2
        |      ELSE CAST((CAST(4 AS HUGEINT) * aa * cc -
        |        CAST(bb AS HUGEINT) * bb) // (4 * aa) AS BIGINT)
        |      END AS d2_seg,
        |    CASE WHEN aa = 0 OR bb >= 0 THEN tus
        |      WHEN -bb >= 2 * aa THEN t2
        |      ELSE tus + CAST((CAST(dt AS HUGEINT) * (-bb))
        |        // (2 * aa) AS BIGINT) END AS t_seg,
        |    CASE WHEN aa <> 0 AND bb < 0 AND -bb < 2 * aa
        |      THEN 1 ELSE 0 END AS interior
        |  FROM (SELECT *,
        |    (dx2 - dx1) * (dx2 - dx1) + (dy2 - dy1) * (dy2 - dy1)
        |      AS aa,
        |    2 * (dx1 * (dx2 - dx1) + dy1 * (dy2 - dy1)) AS bb,
        |    dx1 * dx1 + dy1 * dy1 AS cc
        |    FROM h)),
        |m AS (
        |  SELECT pair_id, CAST(count(*) AS BIGINT) AS n_seg,
        |    min(d2_seg) AS d2,
        |    CAST(sum(d2_seg) AS BIGINT) AS sum_d2,
        |    CAST(sum(interior) AS BIGINT) AS n_interior
        |  FROM k GROUP BY pair_id)
        |SELECT m.pair_id, m.n_seg,
        |  CAST(m.d2 AS BIGINT) AS nad2_milli2,
        |  CAST(min(k.t_seg) AS BIGINT) AS nai_us,
        |  m.sum_d2, m.n_interior
        |FROM m JOIN k ON k.pair_id = m.pair_id AND k.d2_seg = m.d2
        |GROUP BY m.pair_id, m.n_seg, m.d2, m.sum_d2, m.n_interior
        |ORDER BY m.pair_id""".stripMargin,

    // q107 — the q104 segment CTE + the two half-line durations with
    // the same dt-cancelled divisions; greatest(0, ·) clamps the
    // floored inclusion-exclusion identically in both engines
    "q107_linear_tdwithin" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus,
        |    last_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wp AS pa_t,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wp AS pa_v,
        |    last_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wp AS pb_t,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wp AS pb_v,
        |    first_value(CASE WHEN side = 1 THEN tus END IGNORE NULLS)
        |      OVER wn AS na_t,
        |    first_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER wn AS na_v,
        |    first_value(CASE WHEN side = 0 THEN tus END IGNORE NULLS)
        |      OVER wn AS nb_t,
        |    first_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER wn AS nb_v,
        |    lead(tus) OVER wo AS t2
        |  FROM p
        |  WINDOW wp AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY pair_id ORDER BY tus
        |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
        |  wo AS (PARTITION BY pair_id ORDER BY tus, user_id, event_id)),
        |g AS (
        |  SELECT pair_id, t2 - tus AS dt,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (tus - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (tus - pb_t)) *
        |      (na_t - pa_t) AS n1,
        |    (CAST(pa_v AS HUGEINT) * (na_t - pa_t) +
        |     CAST(na_v - pa_v AS HUGEINT) * (t2 - pa_t)) *
        |      (nb_t - pb_t) -
        |    (CAST(pb_v AS HUGEINT) * (nb_t - pb_t) +
        |     CAST(nb_v - pb_v AS HUGEINT) * (t2 - pb_t)) *
        |      (na_t - pa_t) AS n2,
        |    CAST(na_v - pa_v AS HUGEINT) * (nb_t - pb_t) -
        |    CAST(nb_v - pb_v AS HUGEINT) * (na_t - pa_t) AS ss,
        |    CAST(100000 AS HUGEINT) * (na_t - pa_t) *
        |      (nb_t - pb_t) AS ee
        |  FROM f
        |  WHERE pa_t IS NOT NULL AND pb_t IS NOT NULL
        |    AND na_t IS NOT NULL AND nb_t IS NOT NULL
        |    AND t2 IS NOT NULL),
        |h AS (
        |  SELECT pair_id, dt, n1, n2, ee,
        |    CASE WHEN n1 <= ee AND n2 <= ee THEN dt
        |      WHEN n1 <= ee AND n2 > ee THEN
        |        CAST((ee - n1) // ss AS BIGINT)
        |      WHEN n1 > ee AND n2 <= ee THEN
        |        CAST((ee - n2) // (-ss) AS BIGINT)
        |      ELSE 0 END AS dle,
        |    CASE WHEN n1 >= -ee AND n2 >= -ee THEN dt
        |      WHEN n1 >= -ee AND n2 < -ee THEN
        |        CAST((n1 + ee) // (-ss) AS BIGINT)
        |      WHEN n1 < -ee AND n2 >= -ee THEN
        |        CAST((n2 + ee) // ss AS BIGINT)
        |      ELSE 0 END AS dge
        |  FROM g),
        |k AS (
        |  SELECT pair_id,
        |    greatest(0, dle + dge - dt) AS w_seg,
        |    CASE WHEN abs(n1) <= ee AND abs(n2) <= ee THEN 1
        |      ELSE 0 END AS full_in
        |  FROM h)
        |SELECT pair_id, CAST(count(*) AS BIGINT) AS n_seg,
        |  CAST(sum(w_seg) AS BIGINT) AS within_us_lin,
        |  CAST(sum(full_in) AS BIGINT) AS n_full,
        |  CAST(sum(CASE WHEN w_seg > 0 AND full_in = 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_partial
        |FROM k GROUP BY pair_id ORDER BY pair_id""".stripMargin,

    // q105 — q80's fill + q95's run machinery on the pair timeline;
    // HUGEINT guards the Σ d·Δt numerator, one shared double division
    "q105_tdwithin" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus, user_id, event_id,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER w AS av,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER w AS bv
        |  FROM p
        |  WINDOW w AS (PARTITION BY pair_id
        |    ORDER BY tus, user_id, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT pair_id, tus, abs(av - bv) AS d,
        |    lead(tus) OVER wt - tus AS dur,
        |    CASE WHEN abs(av - bv) <= 100000 THEN 1 ELSE 0 END AS w,
        |    lag(CASE WHEN abs(av - bv) <= 100000 THEN 1 ELSE 0 END)
        |      OVER wt AS pw
        |  FROM f WHERE av IS NOT NULL AND bv IS NOT NULL
        |  WINDOW wt AS (PARTITION BY pair_id
        |    ORDER BY tus, user_id, event_id)),
        |a AS (
        |  SELECT pair_id, CAST(count(*) AS BIGINT) AS n_sync,
        |    CAST(min(d) AS BIGINT) AS d_min_milli,
        |    CAST(max(d) AS BIGINT) AS d_max_milli,
        |    CAST(coalesce(sum(CASE WHEN dur IS NOT NULL THEN dur END),
        |      0) AS BIGINT) AS dur_us,
        |    CAST(coalesce(sum(CASE WHEN dur IS NOT NULL
        |      THEN d * dur END), 0) AS BIGINT) AS dnum,
        |    CAST(sum(CASE WHEN w = 1 AND (pw IS NULL OR pw = 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
        |    CAST(coalesce(sum(CASE WHEN w = 1 AND dur IS NOT NULL
        |      THEN dur END), 0) AS BIGINT) AS within_us
        |  FROM g GROUP BY pair_id)
        |SELECT pair_id, n_sync, d_min_milli, d_max_milli, dur_us,
        |  CAST(dnum AS DOUBLE) / CAST(dur_us AS DOUBLE)
        |    AS mean_d_milli,
        |  n_within, within_us
        |FROM a WHERE dur_us > 0 ORDER BY pair_id""".stripMargin,

    // the fact side's instant count joined to the synthesized dim
    // payload — both derivable from events by construction
    "q108_envelope_spj_join" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n,
        |       CAST(user_id % 3 + 1 + 7 AS BIGINT) AS vt_dim,
        |       'D' || CAST(user_id AS VARCHAR) AS label
        |FROM events WHERE user_id < 128 GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // one envelope line per user on the keyed staging; the assembly
    // dedupes by instant, so n_posits is the distinct-ts count
    "q106_envelope_keyed_agg" ->
      """SELECT user_id, CAST(1 AS BIGINT) AS n_lines,
        |       CAST(count(DISTINCT ts) AS BIGINT) AS n_posits
        |FROM events WHERE user_id < 128 GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // one envelope line per user; the pushed MIN/MAX/COUNT under the
    // id filter replayed over the distinct-user set
    "q89_envelope_minmax" ->
      """SELECT CAST(min(user_id) AS BIGINT) AS id_min,
        |       CAST(max(user_id) AS BIGINT) AS id_max,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_env
        |FROM events WHERE user_id >= 3""".stripMargin,

    // the grouped pushdown replayed over the vt derivation (user_id
    // mod 3, 1-based) on the distinct-user set
    "q90_envelope_group_agg" ->
      """SELECT CAST(user_id % 3 + 1 AS INTEGER) AS vt,
        |       CAST(count(*) AS BIGINT) AS n_env,
        |       CAST(min(user_id) AS BIGINT) AS id_min,
        |       CAST(max(user_id) AS BIGINT) AS id_max
        |FROM (SELECT DISTINCT user_id FROM events) u
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the runtime-pruned dimension join replayed relationally: the
    // selective dim keys, each user's trip instant count, the dim's
    // event count — pruning is an IO optimization, never a result
    "q91_envelope_runtime_prune" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events WHERE user_id % 29 = 0 GROUP BY user_id
        |  ORDER BY user_id LIMIT 64),
        |env AS (
        |  SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n
        |  FROM events GROUP BY user_id)
        |SELECT d.user_id, e.n, d.n_ev
        |FROM dim d JOIN env e USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // q92 — identical dedupe + per-step deltas; the octant CASE is one
    // shared integer formula
    "q92_azimuth" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS xm,
        |    CAST(len(props) AS BIGINT) AS ym,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    xm - lag(xm) OVER w AS dx, ym - lag(ym) OVER w AS dy
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |o AS (
        |  SELECT user_id, dx, dy,
        |    CASE WHEN dx = 0 AND dy = 0 THEN -1
        |         WHEN dx >= 0 AND dy >= 0 THEN
        |           CASE WHEN abs(dy) > abs(dx) THEN 1 ELSE 0 END
        |         WHEN dx < 0 AND dy >= 0 THEN
        |           CASE WHEN abs(dy) > abs(dx) THEN 3 ELSE 2 END
        |         WHEN dx < 0 AND dy < 0 THEN
        |           CASE WHEN abs(dy) > abs(dx) THEN 5 ELSE 4 END
        |         ELSE CASE WHEN abs(dy) > abs(dx) THEN 7 ELSE 6 END
        |    END AS oct
        |  FROM p WHERE dx IS NOT NULL)
        |SELECT user_id, oct, CAST(count(*) AS BIGINT) AS n_steps,
        |  CAST(sum(abs(dx)) AS BIGINT) AS adx_milli,
        |  CAST(sum(abs(dy)) AS BIGINT) AS ady_len
        |FROM o GROUP BY user_id, oct
        |ORDER BY user_id, oct""".stripMargin,

    // q93 — identical dedupe + lead weights; the OFFSET-shifted
    // integer division (DuckDB // FLOORS where Spark div truncates —
    // they agree only on positive operands, so both engines divide the
    // shifted-positive numerator; ADVICE r15), arg_min picks the
    // unique first posit
    "q93_twcentroid" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS xm,
        |    CAST(len(props) AS BIGINT) AS ym,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, xm, ym,
        |    (lead(tus) OVER w - tus) // 1000 AS w_ms
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_posits,
        |    CAST(coalesce(sum(w_ms), 0) AS BIGINT) AS dur_ms,
        |    CAST(coalesce(sum(xm * w_ms), 0) AS BIGINT) AS xw,
        |    CAST(coalesce(sum(ym * w_ms), 0) AS BIGINT) AS yw,
        |    arg_min(xm, tus) AS fxm, arg_min(ym, tus) AS fym
        |  FROM p GROUP BY user_id)
        |SELECT user_id, n_posits, dur_ms,
        |  CAST(CASE WHEN dur_ms > 0
        |    THEN (xw + 10000000 * dur_ms) // dur_ms - 10000000
        |    ELSE fxm END AS BIGINT) AS twx_milli,
        |  CAST(CASE WHEN dur_ms > 0
        |    THEN (yw + 10000000 * dur_ms) // dur_ms - 10000000
        |    ELSE fym END AS BIGINT) AS twy_len
        |FROM a ORDER BY user_id""".stripMargin,

    // the distributed-ingest replay must emit exactly qs3's set through
    // unordered executor-written files
    "qs23_dist_ingest" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |         AS v_milli
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,

    // bucket-misroute detector: the same purchase-fact x per-user-count
    // join recomputed from the raw table
    "q55_bucketed_join" ->
      """WITH d AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY user_id),
        |f AS (
        |  SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE event_type = 'purchase')
        |SELECT n_events, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(vm) AS BIGINT) AS v_milli
        |FROM f JOIN d USING (user_id)
        |GROUP BY n_events ORDER BY n_events""".stripMargin,

    // dynamic-pruning detector: the IN-subquery the DPP join encodes;
    // over- or under-pruned fact partitions change the rollup
    "q64_dynamic_partition_prune" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_quantity * 1000) AS BIGINT)) AS BIGINT)
        |    AS qty_milli
        |FROM lineitem
        |WHERE year(l_shipdate) IN (
        |  SELECT year(o_orderdate) FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY 1 ORDER BY yr""".stripMargin,

    // VARIANT twin: both paths recomputed from the raw JSON text; the
    // missing path must be NULL in both engines
    "q65_variant_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(k) AS k_min, max(k) AS k_max,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    CAST(json_extract_string(props, '$.missing') AS BIGINT) AS m
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical set list; DuckDB's date subtraction spells the dow
    "q66_grouping_sets" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
        |      AS dow,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events)
        |SELECT event_type, dow,
        |  CAST(grouping(event_type) * 2 + grouping(dow) AS BIGINT)
        |    AS gid,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(vm) AS BIGINT)
        |    AS v_milli
        |FROM e
        |GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
        |ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST"""
        .stripMargin,

    // QUALIFY spells the same filtered rank window
    "q67_group_topk" ->
      """WITH a AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS v_milli
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, n, v_milli,
        |  CAST(row_number() OVER w AS BIGINT) AS rk
        |FROM a WINDOW w AS (PARTITION BY event_type
        |  ORDER BY n DESC, user_id)
        |QUALIFY row_number() OVER w <= 3
        |ORDER BY event_type, rk""".stripMargin,

    // blob identity recomputed from the table the files came from
    "q68_binary_file_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
        |  md5(text) AS blob_md5
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    // full per-user counts, restricted to users with >= 1 event in the
    // stream half of the same deterministic (ts, event_id) split — a
    // seed that failed to land undercounts and hash-fails
    "qs25_tws_initial_state" ->
      """WITH r AS (
        |  SELECT user_id, row_number() OVER (ORDER BY ts, event_id)
        |    AS rn, count(*) OVER () AS n
        |  FROM events),
        |su AS (SELECT DISTINCT user_id FROM r WHERE rn > n // 2)
        |SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events e JOIN su USING (user_id)
        |GROUP BY e.user_id ORDER BY user_id""".stripMargin,

    // the streamed envelope set must equal q57's batch rollup — each
    // committed line exactly once across the rate-limited micro-batches
    "qs27_envelope_stream" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n,
        |       min(epoch_us(ts)) AS t0_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // every purchase row delivered exactly once through the file sink;
    // the decoy orphan (user -999) must be invisible to the read-back
    "qs26_file_sink" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // IS NOT DISTINCT FROM spells <=>; the NULL bucket must join
    "q69_null_safe_join" ->
      """WITH a AS (
        |  SELECT NULLIF(user_id % 10, 0) AS k,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT NULLIF(o_custkey % 10, 0) AS k,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(a.k, b.k) AS k, n_events, n_orders
        |FROM a FULL OUTER JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin,

    // the explicit NULL-padded UNION ALL the by-name union desugars to
    "q70_union_by_name" ->
      """WITH u AS (
        |  SELECT event_id, CAST(NULL AS BIGINT) AS user_id, event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(value * 1000) AS BIGINT)
        |  FROM events WHERE event_id % 2 = 1)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gen1,
        |  CAST(sum(vm) AS BIGINT) AS v_milli,
        |  CAST(sum(coalesce(user_id, 0)) AS BIGINT) AS user_sum
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,

    // latest version per key by (ts, event_id); keys whose last op is
    // a tombstone vanish from the snapshot
    "q71_cdc_apply" ->
      """WITH log AS (
        |  SELECT event_id % 4096 AS k, epoch_us(ts) AS tus, event_id,
        |    CASE WHEN event_id % 10 = 7 THEN 'D' ELSE 'U' END AS op,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_milli
        |  FROM events),
        |r AS (
        |  SELECT k, op, v_milli, tus,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY tus DESC, event_id DESC) AS rk,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT)
        |      AS n_versions
        |  FROM log)
        |SELECT k, v_milli, tus AS last_tus, n_versions
        |FROM r WHERE rk = 1 AND op = 'U'
        |ORDER BY k""".stripMargin,

    // step/linear TWA over the deduped posit sequence; integer Σ v·Δt
    // numerators, one double division each (the qz31 discipline)
    "q72_twavg" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm FROM d
        |  WHERE pt IS NULL OR pt <> tus),
        |iv AS (
        |  SELECT user_id, tus, vm,
        |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS t2,
        |    lead(vm)  OVER (PARTITION BY user_id ORDER BY tus) AS v2
        |  FROM p),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_posits,
        |    max(tus) - min(tus) AS duration_us,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL
        |      THEN (t2 - tus) * vm END) AS BIGINT) AS step_num,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL
        |      THEN (t2 - tus) * (vm + v2) END) AS BIGINT) AS lin_num2,
        |    CAST(sum(CASE WHEN t2 IS NOT NULL
        |      THEN abs(v2 - vm) END) AS BIGINT) AS tv_milli
        |  FROM iv GROUP BY user_id)
        |SELECT user_id, n_posits, duration_us, tv_milli,
        |  CAST(step_num AS DOUBLE) / CAST(duration_us AS DOUBLE)
        |    AS twavg_step_milli,
        |  CAST(lin_num2 AS DOUBLE) / CAST(duration_us * 2 AS DOUBLE)
        |    AS twavg_lin_milli
        |FROM g WHERE duration_us > 0
        |ORDER BY user_id""".stripMargin,

    // the qz50 interval CTE joined as-of the instant BEFORE each
    // purchase; first-ever events fall through the left join to 'none'
    "q73_scd2_lookup" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    epoch_us(ts) AS us,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR event_type <> lag(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, event_type, us,
        |    CAST(sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS ver
        |  FROM m),
        |v AS (
        |  SELECT user_id, ver, min(event_type) AS event_type,
        |    CAST(min(us) AS BIGINT) AS vf_us
        |  FROM r GROUP BY user_id, ver),
        |dim AS (
        |  SELECT user_id AS d_uid, ver, event_type AS prior_state,
        |    vf_us,
        |    lead(vf_us) OVER (PARTITION BY user_id ORDER BY ver) - 1
        |      AS vt_us
        |  FROM v),
        |probes AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.p_us,
        |  coalesce(d.prior_state, 'none') AS prior_state,
        |  coalesce(d.ver, 0) AS prior_ver
        |FROM probes p LEFT JOIN dim d
        |  ON p.user_id = d.d_uid AND d.vf_us <= p.p_us - 1
        |  AND (d.vt_us IS NULL OR p.p_us - 1 <= d.vt_us)
        |ORDER BY event_id""".stripMargin,

    // step-interpolation dwell above X over the deduped posit sequence
    "q74_at_threshold" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm FROM d
        |  WHERE pt IS NULL OR pt <> tus),
        |iv AS (
        |  SELECT user_id, tus, vm,
        |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS t2,
        |    lead(vm)  OVER (PARTITION BY user_id ORDER BY tus) AS v2
        |  FROM p),
        |g AS (
        |  SELECT user_id,
        |    max(tus) - min(tus) AS duration_us,
        |    CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL AND vm > 245000
        |      THEN t2 - tus END), 0) AS BIGINT) AS above_us,
        |    CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL
        |      AND (vm > 245000) <> (v2 > 245000) THEN 1
        |      WHEN t2 IS NOT NULL THEN 0 END), 0) AS BIGINT)
        |      AS n_crossings
        |  FROM iv GROUP BY user_id)
        |SELECT user_id, duration_us, above_us, n_crossings,
        |  CAST(above_us AS DOUBLE) / CAST(duration_us AS DOUBLE)
        |    AS share_above
        |FROM g WHERE duration_us > 0
        |ORDER BY user_id""".stripMargin,

    // good mass per type + the 7 planted bad lines under '__corrupt__'
    // (the literal 7 below must track the `bad` Seq in the q75 plant)
    "q75_corrupt_records" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli
        |FROM events GROUP BY event_type
        |UNION ALL SELECT '__corrupt__', 7, 0
        |ORDER BY event_type""".stripMargin,

    // merged pair timeline, IGNORE NULLS forward fills, synchronized
    // integration
    "q76_temporal_and" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events WHERE user_id IN (1, 2, 3, 4)),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus, user_id, event_id,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER w AS av,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER w AS bv
        |  FROM p
        |  WINDOW w AS (PARTITION BY pair_id
        |    ORDER BY tus, user_id, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT pair_id, tus, av, bv,
        |    lead(tus) OVER (PARTITION BY pair_id
        |      ORDER BY tus, user_id, event_id) AS t2
        |  FROM f WHERE av IS NOT NULL AND bv IS NOT NULL),
        |h AS (
        |  SELECT pair_id,
        |    CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL AND av > 245000
        |      AND bv > 245000 THEN t2 - tus END), 0) AS BIGINT)
        |      AS both_above_us,
        |    CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL
        |      AND (av > 245000 OR bv > 245000) THEN t2 - tus END), 0)
        |      AS BIGINT) AS any_above_us,
        |    max(tus) - min(tus) AS span_us
        |  FROM g GROUP BY pair_id)
        |SELECT pair_id, both_above_us, any_above_us, span_us
        |FROM h WHERE span_us > 0 ORDER BY pair_id""".stripMargin,

    // q79 — the same dedupe + lead segments, clipped to the two
    // corpus-anchored windows with identical greatest/least arithmetic
    "q79_at_period" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm,
        |    lead(tus) OVER (PARTITION BY user_id
        |      ORDER BY tus, event_id) AS t2
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |g AS (SELECT min(epoch_us(ts)) AS g0 FROM events),
        |e AS (
        |  SELECT user_id, tus, vm, t2,
        |    g0 + 2 * 86400000000 AS p0, g0 + 5 * 86400000000 AS p1,
        |    g0 + 8 * 86400000000 AS p2, g0 + 11 * 86400000000 AS p3
        |  FROM p CROSS JOIN g)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN (tus >= p0 AND tus < p1)
        |    OR (tus >= p2 AND tus < p3) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_in_period,
        |  CAST(sum(CASE WHEN (tus >= p0 AND tus < p1)
        |    OR (tus >= p2 AND tus < p3) THEN vm ELSE 0 END) AS BIGINT)
        |    AS milli_in_period,
        |  CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL THEN
        |    greatest(0, least(t2, p1) - greatest(tus, p0)) +
        |    greatest(0, least(t2, p3) - greatest(tus, p2)) END), 0)
        |    AS BIGINT) AS retained_us
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q80 — q76's synchronized timeline; the argmin is the exact
    // two-step min (min dist, then earliest instant at that dist)
    "q80_nearest_approach" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events WHERE user_id IN (1, 2, 3, 4)),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus, user_id, event_id,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER w AS av,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER w AS bv
        |  FROM p
        |  WINDOW w AS (PARTITION BY pair_id
        |    ORDER BY tus, user_id, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT pair_id, tus, abs(av - bv) AS dist
        |  FROM f WHERE av IS NOT NULL AND bv IS NOT NULL),
        |m AS (
        |  SELECT pair_id, min(dist) AS nad_milli,
        |    CAST(count(*) AS BIGINT) AS n_sync
        |  FROM g GROUP BY pair_id)
        |SELECT m.pair_id, m.nad_milli,
        |  min(g.tus) AS nai_us, m.n_sync
        |FROM m JOIN g ON g.pair_id = m.pair_id
        |  AND g.dist = m.nad_milli
        |GROUP BY m.pair_id, m.nad_milli, m.n_sync
        |ORDER BY m.pair_id""".stripMargin,

    // q82 — posits ∪ hour-grid markers, one IGNORE NULLS fill, grid
    // rows rolled per user
    "q82_resample" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm FROM d WHERE pt IS NULL OR pt <> tus),
        |sp AS (
        |  SELECT user_id, min(tus) AS t0, max(tus) AS t1
        |  FROM p GROUP BY user_id),
        |g AS (
        |  SELECT user_id,
        |    unnest(generate_series((t0 + 3599999999) // 3600000000,
        |      t1 // 3600000000)) AS hh
        |  FROM sp),
        |u AS (
        |  SELECT user_id, tus, vm, 0 AS isg FROM p
        |  UNION ALL
        |  SELECT user_id, hh * 3600000000, NULL, 1 FROM g),
        |f AS (
        |  SELECT user_id, isg,
        |    last_value(CASE WHEN isg = 0 THEN vm END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tus, isg
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
        |  FROM u)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(sv) AS BIGINT) AS milli_sum,
        |  CAST(min(sv) AS BIGINT) AS v_min,
        |  CAST(max(sv) AS BIGINT) AS v_max
        |FROM f WHERE isg = 1 GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // q83 — per-(user, day) last value, users × span-days calendar
    // carry, day-grain rollup
    "q83_temporal_sum" ->
      """WITH b AS (
        |  SELECT min(epoch_us(ts)) // 86400000000 AS d0,
        |    max(epoch_us(ts)) // 86400000000 AS d1
        |  FROM events),
        |lp AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
        |    epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    row_number() OVER (PARTITION BY user_id,
        |        epoch_us(ts) // 86400000000
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |ld AS (SELECT user_id, d, vm FROM lp WHERE rn = 1),
        |g AS (
        |  SELECT u.user_id, unnest(generate_series(b.d0, b.d1)) AS d
        |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN b),
        |f AS (
        |  SELECT g.user_id, g.d,
        |    last_value(ld.vm IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        |  FROM g LEFT JOIN ld ON ld.user_id = g.user_id AND ld.d = g.d)
        |SELECT d, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cv) AS BIGINT) AS milli_sum
        |FROM f WHERE cv IS NOT NULL GROUP BY d ORDER BY d""".stripMargin,

    // q85 — per-step double sqrt floored to micro BIGINTs, exact sums
    "q85_path_length" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    value AS x, CAST(len(props) AS DOUBLE) AS y,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, x, y,
        |    lag(x) OVER w AS px, lag(y) OVER w AS py
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |st AS (
        |  SELECT user_id,
        |    CAST(floor(1000000 * sqrt((x - px) * (x - px) +
        |      (y - py) * (y - py))) AS BIGINT) AS step_micro
        |  FROM p WHERE px IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
        |  CAST(sum(step_micro) AS BIGINT) AS len_micro,
        |  CAST(max(step_micro) AS BIGINT) AS max_step_micro
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q88 — the identical ancestor-chain recursion, DuckDB dialect
    "q88_recursive_cte" ->
      """WITH RECURSIVE cnt AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |walk(user_id, anc, depth, path_n) AS (
        |  SELECT user_id, user_id, 0, n FROM cnt
        |  UNION ALL
        |  SELECT w.user_id, w.anc // 2, w.depth + 1,
        |    w.path_n + coalesce(c.n, 0)
        |  FROM walk w LEFT JOIN cnt c ON c.user_id = w.anc // 2
        |  WHERE w.anc > 1)
        |SELECT user_id, CAST(depth AS BIGINT) AS depth,
        |  CAST(path_n AS BIGINT) AS path_n
        |FROM walk WHERE anc = 1 ORDER BY user_id""".stripMargin,

    // q86 — same dedupe + lag steps; the argmax is the min over
    // (−speed, instant)
    "q86_speed" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm,
        |    lag(tus) OVER w AS p2, lag(vm) OVER w AS pv
        |  FROM d WHERE pt IS NULL OR pt <> tus
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |st AS (
        |  SELECT user_id, tus,
        |    (abs(vm - pv) * 1000000) // (tus - p2) AS sp,
        |    abs(vm - pv) AS dv, tus - p2 AS dt
        |  FROM p WHERE p2 IS NOT NULL),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
        |    CAST(max(sp) AS BIGINT) AS max_speed,
        |    CAST(sum(dv) AS BIGINT) AS dv_milli,
        |    CAST(sum(dt) AS BIGINT) AS dt_us
        |  FROM st GROUP BY user_id)
        |SELECT m.user_id, m.n_steps, m.max_speed,
        |  min(st.tus) AS max_at_us,
        |  (m.dv_milli * 1000000) // m.dt_us AS mean_speed
        |FROM m JOIN st ON st.user_id = m.user_id
        |  AND st.sp = m.max_speed
        |GROUP BY m.user_id, m.n_steps, m.max_speed, m.dv_milli, m.dt_us
        |ORDER BY m.user_id""".stripMargin,

    // q81 — identical normalize + shift/mask interleave + cell rollup
    "q81_zorder_audit" -> {
      val z = (0 until 8).map(i =>
        s"(((d1 >> $i) & 1) << ${2 * i + 1}) + " +
          s"(((d2 >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
         |    min(CAST(floor(value * 1000) AS BIGINT)) AS v0,
         |    max(CAST(floor(value * 1000) AS BIGINT)) AS v1
         |  FROM events),
         |e AS (
         |  SELECT (epoch_us(ts) - t0) * 256 // (t1 - t0 + 1) AS d1,
         |    (CAST(floor(value * 1000) AS BIGINT) - v0) * 256
         |      // (v1 - v0 + 1) AS d2
         |  FROM events CROSS JOIN b),
         |c AS (SELECT ($z) // 256 AS zb, d1, d2 FROM e)
         |SELECT zb, CAST(count(*) AS BIGINT) AS n,
         |  min(d1) AS d1_min, max(d1) AS d1_max,
         |  min(d2) AS d2_min, max(d2) AS d2_max,
         |  (max(d1) - min(d1) + 1) * (max(d2) - min(d2) + 1)
         |    AS cell_area
         |FROM c GROUP BY zb ORDER BY zb""".stripMargin
    },

    // the same fold spelled as a RECURSIVE walk, one position per
    // iteration (struct-accumulator list_reduce folds misfold on
    // column data in DuckDB v1.0.0 — scalar folds and this recursion
    // are both exact; validated element-for-element against an
    // independent reference fold)
    // q97 — same dedupe; per-user window extremes + conditional rollup
    "q97_at_extremes" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, vm,
        |    min(vm) OVER (PARTITION BY user_id) AS vmin,
        |    max(vm) OVER (PARTITION BY user_id) AS vmax
        |  FROM d WHERE pt IS NULL OR pt <> tus)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_posits,
        |  CAST(min(vm) AS BIGINT) AS v_min,
        |  CAST(max(vm) AS BIGINT) AS v_max,
        |  CAST(sum(CASE WHEN vm = vmin THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_at_min,
        |  min(CASE WHEN vm = vmin THEN tus END) AS first_min_us,
        |  CAST(sum(CASE WHEN vm = vmax THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_at_max,
        |  min(CASE WHEN vm = vmax THEN tus END) AS first_max_us
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q98 — same dedupe; (pair, instant) dedupe keeps the lower user
    "q98_temporal_merge" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |m AS (
        |  SELECT pair_id, user_id, tus, vm,
        |    row_number() OVER (PARTITION BY pair_id, tus
        |      ORDER BY user_id, event_id) AS rn
        |  FROM p)
        |SELECT pair_id, CAST(count(*) AS BIGINT) AS n_merged,
        |  min(tus) AS t0_us, max(tus) AS t1_us,
        |  CAST(sum(vm) AS BIGINT) AS milli_sum,
        |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_from_odd,
        |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_from_even
        |FROM m WHERE rn = 1
        |GROUP BY pair_id ORDER BY pair_id""".stripMargin,

    // q99 — q80's forward-fill synchronization; closed-segment
    // conditional durations
    "q99_temporal_compare" ->
      """WITH d AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |p AS (
        |  SELECT user_id, tus, event_id, vm,
        |    (user_id + 1) // 2 AS pair_id, user_id % 2 AS side
        |  FROM d WHERE pt IS NULL OR pt <> tus),
        |f AS (
        |  SELECT pair_id, tus, user_id, event_id,
        |    last_value(CASE WHEN side = 1 THEN vm END IGNORE NULLS)
        |      OVER w AS av,
        |    last_value(CASE WHEN side = 0 THEN vm END IGNORE NULLS)
        |      OVER w AS bv
        |  FROM p
        |  WINDOW w AS (PARTITION BY pair_id
        |    ORDER BY tus, user_id, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT pair_id, tus, av, bv,
        |    lead(tus) OVER (PARTITION BY pair_id
        |      ORDER BY tus, user_id, event_id) - tus AS dur
        |  FROM f WHERE av IS NOT NULL AND bv IS NOT NULL)
        |SELECT pair_id, CAST(count(*) AS BIGINT) AS n_sync,
        |  CAST(coalesce(sum(CASE WHEN av < bv THEN dur END), 0)
        |    AS BIGINT) AS lt_us,
        |  CAST(coalesce(sum(CASE WHEN av = bv THEN dur END), 0)
        |    AS BIGINT) AS eq_us,
        |  CAST(coalesce(sum(CASE WHEN av > bv THEN dur END), 0)
        |    AS BIGINT) AS gt_us
        |FROM g GROUP BY pair_id ORDER BY pair_id""".stripMargin,

    // q102 — the three proven per-feature spellings (q86 windows, q96
    // walk, q77 walk) joined on user_id; single-posit users carry 0
    // speeds via the left join
    "q102_trajectory_features" ->
      """WITH RECURSIVE d AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id) AS rn
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i
        |  FROM d WHERE rn = 1),
        |sz AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ordered GROUP BY user_id),
        |sp AS (
        |  SELECT user_id,
        |    CAST(max((abs(v - pv) * 1000000) // (t - p2)) AS BIGINT)
        |      AS max_speed,
        |    CAST(sum(abs(v - pv)) AS BIGINT) AS dv,
        |    CAST(sum(t - p2) AS BIGINT) AS dt
        |  FROM (SELECT user_id, t, v, lag(t) OVER w AS p2,
        |          lag(v) OVER w AS pv
        |        FROM ordered
        |        WINDOW w AS (PARTITION BY user_id ORDER BY i)) x
        |  WHERE p2 IS NOT NULL GROUP BY user_id),
        |walk(user_id, i, a, t0, pt, nst, tot) AS (
        |  SELECT user_id, i, v, t, t, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT)
        |  FROM ordered WHERE i = 1
        |  UNION ALL
        |  SELECT o.user_id, o.i,
        |    CASE WHEN abs(o.v - w.a) <= 100000 THEN w.a ELSE o.v END,
        |    CASE WHEN abs(o.v - w.a) <= 100000 THEN w.t0 ELSE o.t END,
        |    o.t,
        |    w.nst + CASE WHEN abs(o.v - w.a) > 100000
        |      AND w.pt - w.t0 >= 21600000000 THEN 1 ELSE 0 END,
        |    w.tot + CASE WHEN abs(o.v - w.a) > 100000
        |      AND w.pt - w.t0 >= 21600000000
        |      THEN w.pt - w.t0 ELSE 0 END
        |  FROM walk w JOIN ordered o
        |    ON o.user_id = w.user_id AND o.i = w.i + 1),
        |stops AS (
        |  SELECT w.user_id,
        |    CAST(w.nst + CASE WHEN w.pt - w.t0 >= 21600000000
        |      THEN 1 ELSE 0 END AS BIGINT) AS n_stops,
        |    CAST(w.tot + CASE WHEN w.pt - w.t0 >= 21600000000
        |      THEN w.pt - w.t0 ELSE 0 END AS BIGINT) AS stop_us
        |  FROM walk w JOIN sz z
        |    ON w.user_id = z.user_id AND w.i = z.n),
        |walk2(user_id, i, lastv, nk) AS (
        |  SELECT user_id, i, v, CAST(1 AS BIGINT)
        |  FROM ordered WHERE i = 1
        |  UNION ALL
        |  SELECT o.user_id, o.i,
        |    CASE WHEN abs(o.v - w.lastv) > 50000 THEN o.v
        |      ELSE w.lastv END,
        |    w.nk + CASE WHEN abs(o.v - w.lastv) > 50000 THEN 1
        |      ELSE 0 END
        |  FROM walk2 w JOIN ordered o
        |    ON o.user_id = w.user_id AND o.i = w.i + 1),
        |keepf AS (
        |  SELECT w.user_id, w.nk AS n_kept
        |  FROM walk2 w JOIN sz z
        |    ON w.user_id = z.user_id AND w.i = z.n)
        |SELECT z.user_id, z.n AS n_posits,
        |  CAST(coalesce(sp.max_speed, 0) AS BIGINT) AS max_speed,
        |  CAST(CASE WHEN coalesce(sp.dt, 0) > 0
        |    THEN (sp.dv * 1000000) // sp.dt ELSE 0 END AS BIGINT)
        |    AS mean_speed,
        |  stops.n_stops, stops.stop_us, keepf.n_kept
        |FROM sz z
        |LEFT JOIN sp ON sp.user_id = z.user_id
        |JOIN stops ON stops.user_id = z.user_id
        |JOIN keepf ON keepf.user_id = z.user_id
        |ORDER BY z.user_id""".stripMargin,

    // q96 — the identical anchor fold, one position per iteration (the
    // q77 recursive-CTE template: v1.0.0 misfolds struct-accumulator
    // list_reduce on column data); pt carries the previous posit's t,
    // the final row closes the open run
    "q96_stops" ->
      """WITH RECURSIVE d AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id) AS rn
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CAST(floor(value * 1000) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i
        |  FROM d WHERE rn = 1),
        |sz AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM ordered GROUP BY user_id),
        |walk(user_id, i, a, t0, pt, nst, tot, lng) AS (
        |  SELECT user_id, i, v, t, t, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM ordered WHERE i = 1
        |  UNION ALL
        |  SELECT o.user_id, o.i,
        |    CASE WHEN abs(o.v - w.a) <= 100000 THEN w.a ELSE o.v END,
        |    CASE WHEN abs(o.v - w.a) <= 100000 THEN w.t0 ELSE o.t END,
        |    o.t,
        |    w.nst + CASE WHEN abs(o.v - w.a) > 100000
        |      AND w.pt - w.t0 >= 21600000000 THEN 1 ELSE 0 END,
        |    w.tot + CASE WHEN abs(o.v - w.a) > 100000
        |      AND w.pt - w.t0 >= 21600000000
        |      THEN w.pt - w.t0 ELSE 0 END,
        |    greatest(w.lng, CASE WHEN abs(o.v - w.a) > 100000
        |      AND w.pt - w.t0 >= 21600000000
        |      THEN w.pt - w.t0 ELSE 0 END)
        |  FROM walk w JOIN ordered o
        |    ON o.user_id = w.user_id AND o.i = w.i + 1)
        |SELECT w.user_id, z.n AS n_posits,
        |  CAST(w.nst + CASE WHEN w.pt - w.t0 >= 21600000000
        |    THEN 1 ELSE 0 END AS BIGINT) AS n_stops,
        |  CAST(w.tot + CASE WHEN w.pt - w.t0 >= 21600000000
        |    THEN w.pt - w.t0 ELSE 0 END AS BIGINT) AS stop_us,
        |  CAST(greatest(w.lng, CASE WHEN w.pt - w.t0 >= 21600000000
        |    THEN w.pt - w.t0 ELSE 0 END) AS BIGINT) AS longest_us
        |FROM walk w JOIN sz z
        |  ON w.user_id = z.user_id AND w.i = z.n
        |ORDER BY w.user_id""".stripMargin,

    "q77_deadband_simplify" ->
      """WITH RECURSIVE d AS (
        |  SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id) AS rn
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i
        |  FROM d WHERE rn = 1),
        |sz AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_in
        |  FROM ordered GROUP BY user_id),
        |walk(user_id, i, lastv, n, s) AS (
        |  SELECT user_id, i, v, CAST(1 AS BIGINT), v
        |  FROM ordered WHERE i = 1
        |  UNION ALL
        |  SELECT o.user_id, o.i,
        |    CASE WHEN abs(o.v - w.lastv) > 50000 THEN o.v
        |      ELSE w.lastv END,
        |    w.n + CASE WHEN abs(o.v - w.lastv) > 50000 THEN 1
        |      ELSE 0 END,
        |    w.s + CASE WHEN abs(o.v - w.lastv) > 50000 THEN o.v
        |      ELSE 0 END
        |  FROM walk w JOIN ordered o
        |    ON o.user_id = w.user_id AND o.i = w.i + 1)
        |SELECT w.user_id AS user_id, z.n_in, w.n AS n_kept,
        |  w.s AS kept_milli_sum,
        |  (1000000 * (z.n_in - w.n)) // z.n_in AS dropped_ppm
        |FROM walk w JOIN sz z
        |  ON w.user_id = z.user_id AND w.i = z.n_in
        |ORDER BY w.user_id""".stripMargin,

    // q78 — the identical depth-bounded DP recursion as a WORKLIST
    // recursive CTE: each level fans a splitting segment into two rows
    // (the kk∈{1,2} cross join), the argmax is the rk=1 window row
    // (dev DESC, i — same smallest-index tie-break as the Spark fold's
    // strict >), and lvl <= 10 caps the recursion exactly where the
    // Spark side stops applying its level step. Kept set = distinct
    // endpoints of every enqueued segment.
    "q78_dp_simplify" ->
      """WITH RECURSIVE dd AS (
        |  SELECT user_id, ts, value, event_id,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id) AS rn
        |  FROM events),
        |ordered AS (
        |  SELECT user_id, CAST(floor(value * 1000) AS BIGINT) AS v,
        |    epoch_us(ts) AS us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS i
        |  FROM dd WHERE rn = 1),
        |pt AS (
        |  SELECT user_id, CAST(i AS INT) AS i, v,
        |    (us - min(us) OVER (PARTITION BY user_id)) // 1000 AS tm
        |  FROM ordered),
        |sz AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM pt GROUP BY user_id),
        |walk(lvl, user_id, lo, hi) AS (
        |  SELECT 1, user_id, CAST(1 AS INT), CAST(n AS INT) FROM sz
        |  UNION ALL
        |  SELECT lvl + 1, user_id, lo2, hi2 FROM (
        |    SELECT w.lvl, w.user_id,
        |      CASE WHEN two.kk = 1 THEN w.lo ELSE p.i END AS lo2,
        |      CASE WHEN two.kk = 1 THEN p.i ELSE w.hi END AS hi2,
        |      abs((p.v - a.v) * (b.tm - a.tm)
        |        - (b.v - a.v) * (p.tm - a.tm)) AS dev,
        |      (b.tm - a.tm) AS dt,
        |      row_number() OVER (PARTITION BY w.user_id, w.lo, w.hi,
        |          two.kk
        |        ORDER BY abs((p.v - a.v) * (b.tm - a.tm)
        |          - (b.v - a.v) * (p.tm - a.tm)) DESC, p.i) AS rk
        |    FROM walk w
        |    JOIN pt a ON a.user_id = w.user_id AND a.i = w.lo
        |    JOIN pt b ON b.user_id = w.user_id AND b.i = w.hi
        |    JOIN pt p ON p.user_id = w.user_id
        |      AND p.i > w.lo AND p.i < w.hi
        |    CROSS JOIN (SELECT 1 AS kk UNION ALL SELECT 2) two
        |    WHERE w.lvl <= 10
        |  ) WHERE rk = 1 AND dev > 250 * dt),
        |kept AS (
        |  SELECT DISTINCT user_id, i FROM (
        |    SELECT user_id, lo AS i FROM walk
        |    UNION ALL SELECT user_id, hi AS i FROM walk)),
        |agg AS (
        |  SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(p.v) AS BIGINT) AS kept_milli_sum
        |  FROM kept q JOIN pt p
        |    ON p.user_id = q.user_id AND p.i = q.i
        |  GROUP BY p.user_id)
        |SELECT z.user_id, z.n AS n_in, a.n_kept, a.kept_milli_sum,
        |  (1000000 * (z.n - a.n_kept)) // z.n AS dropped_ppm
        |FROM agg a JOIN sz z ON a.user_id = z.user_id
        |ORDER BY z.user_id""".stripMargin,

    // partition-misroute detector: same slice off the raw table
    "q56_partition_prune" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the UNION ALL the stack() generator desugars to
    "q54_unpivot" ->
      """WITH a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS v_milli,
        |    CAST(min(epoch_us(ts)) AS BIGINT) AS t0_us
        |  FROM events GROUP BY event_type)
        |SELECT event_type, 'n' AS metric, n AS val FROM a
        |UNION ALL SELECT event_type, 'v_milli', v_milli FROM a
        |UNION ALL SELECT event_type, 't0_us', t0_us FROM a
        |ORDER BY event_type, metric""".stripMargin,

    // Complete mode's final table = the whole-input aggregate; the
    // (n desc, event_type) sort makes the LIMIT deterministic
    "qs21_complete_topk" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS v_milli
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,

    // the semi join's emitted set must equal the batch EXISTS over the
    // same attribution window — a click appears ONCE however many
    // purchases land in its window
    "qs18_stream_semi" ->
      """SELECT c.event_id AS c_id, c.user_id,
        |  CAST(epoch_us(c.ts) AS BIGINT) AS c_ts_us
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
        |    AND p.ts >= c.ts
        |    AND p.ts <= c.ts + INTERVAL 21600 SECONDS)
        |ORDER BY c_id""".stripMargin,

    // the hierarchical re-windowing rollup must hash-match the batch
    // hour→day double GROUP BY; a 1h cell's day is its start's day
    // (pinned by StreamingSpec's 23:00-hour plant)
    "qs17_rewindow_rollup" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS vm
        |  FROM events GROUP BY h, event_type)
        |SELECT date_trunc('day', h) AS day,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(vm) AS BIGINT) AS v_milli,
        |  CAST(max(n) AS BIGINT) AS max_cell
        |FROM h GROUP BY day ORDER BY day""".stripMargin,

    // the streaming dedup's surviving-fingerprint set must equal the
    // batch distinct over the same normalization (Text.fingerprint)
    "qs4_stream_dedup" ->
      """SELECT DISTINCT
        |  md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |ORDER BY fp""".stripMargin,

    // the chained streaming aggs must hash-match the batch per-window
    // top-5: event time is doc_id seconds from the window-aligned epoch,
    // so window w holds doc_ids [120w, 120w+119] exactly; ties break
    // count DESC then term ASC in both engines
    // the stream-static join's emitted set must equal the batch
    // benchmark-gram join over the same 60-bit keys (qx33's hex fold =
    // the kernel's conv(substring(md5, 1, 15), 16, 10))
    "qs6_stream_static" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_transform(range(len(toks) - 2),
        |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
        |           AS s
        |  FROM tok WHERE len(toks) >= 3),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(s,
        |    g -> list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)))) AS gk
        |  FROM sh),
        |probe AS (SELECT DISTINCT gk FROM g WHERE doc_id % 97 = 0)
        |SELECT DISTINCT doc_id
        |FROM g JOIN probe USING (gk)
        |WHERE doc_id % 97 <> 0
        |ORDER BY doc_id""".stripMargin,

    // session_window merge rule, pinned by Round9Spec's boundary test:
    // the engine merges an event at EXACTLY lastTs+gap (inclusive
    // session end), so only a STRICTLY larger gap breaks — hence > not
    // >= (micros-grain fixture data never lands on the exact boundary,
    // so only the planted test can tell the two rules apart)
    "qs7_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 21600000000 THEN 1
        |         ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(us) AS t0_us, max(us) AS t1_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, t0_us""".stripMargin,

    // the stream-stream interval join's emitted set must equal the batch
    // interval join: purchases within [c_ts, c_ts + 6h] per user,
    // boundaries inclusive on both engines (micros grain)
    "qs8_stream_stream" ->
      """SELECT a.event_id AS c_id, b.event_id AS p_id, a.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |ORDER BY c_id, p_id""".stripMargin,

    // left-join semantics need the purchase-side predicates in ON, not
    // WHERE; unmatched clicks carry NULL p_id/dt_us in both engines
    "qs9_stream_outer" ->
      """SELECT a.event_id AS c_id, b.event_id AS p_id, a.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |WHERE a.event_type = 'click'
        |ORDER BY c_id, p_id NULLS FIRST""".stripMargin,

    // the chained join→window pipeline's emitted set = the batch join
    // rolled into epoch-aligned 6 h buckets of the click time
    "qs28_join_then_window" ->
      """SELECT (epoch_us(a.ts) // 21600000000) * 21600000000 AS w_us,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT)
        |    AS dt_sum_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |WHERE a.event_type = 'click'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // qs9's mirror: every purchase once, null click side when no
    // in-window click exists
    "qs24_stream_right_outer" ->
      """SELECT a.event_id AS c_id, b.event_id AS p_id, b.user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a RIGHT JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'click'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |WHERE b.event_type = 'purchase'
        |ORDER BY c_id NULLS FIRST, p_id""".stripMargin,

    // the running count's max over Update-mode emissions = the batch
    // per-user count
    "qs12_transform_with_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // MapState running counters: per-(user, type) max = GROUP BY count
    "qs13_tws_mapstate" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // ListState buffer: the final last-3 event ids per user in strict
    // (ts, event_id) order, comma-joined like the processor emits
    "qs14_tws_liststate" ->
      """WITH r AS (
        |  SELECT user_id, event_id, ts FROM events
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) <= 3),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |      FROM events GROUP BY user_id),
        |l AS (
        |  SELECT user_id,
        |    string_agg(CAST(event_id AS VARCHAR), ','
        |      ORDER BY ts, event_id) AS last3
        |  FROM r GROUP BY user_id)
        |SELECT n.user_id, n.n_events, l.last3
        |FROM n JOIN l USING (user_id)
        |ORDER BY n.user_id""".stripMargin,

    // both sides pre-filtered to their type slice; unmatched rows from
    // either side carry NULLs, user_id coalesces across sides
    "qs11_stream_full_outer" ->
      """SELECT a.event_id AS c_id, b.event_id AS p_id,
        |       coalesce(a.user_id, b.user_id) AS user_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        |ORDER BY c_id NULLS FIRST, p_id NULLS FIRST""".stripMargin,

    // each event belongs to the 4 slide-grid windows covering it;
    // make_timestamp rebuilds Spark's window start from epoch micros
    "qs10_sliding_window" ->
      """WITH g AS (
        |  SELECT event_type,
        |         CAST(floor(value * 1000) AS BIGINT) AS vm,
        |         (epoch_us(ts) // 900000000 - i) * 900000000 AS sus
        |  FROM events, range(0, 4) AS r(i))
        |SELECT make_timestamp(sus) AS wstart, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(vm) AS BIGINT) AS v_milli
        |FROM g GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "qs5_stream_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (
        |  SELECT doc_id // 120 AS b, term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY b, term),
        |r AS (
        |  SELECT b, term, cnt,
        |         CAST(row_number() OVER (PARTITION BY b
        |           ORDER BY cnt DESC, term) AS BIGINT) AS rank
        |  FROM c)
        |SELECT TIMESTAMP '2000-01-01 00:00:00' + b * INTERVAL 120 SECOND
        |         AS win_start,
        |       rank, term, cnt
        |FROM r WHERE rank <= 5
        |ORDER BY win_start, rank""".stripMargin,

    "q38_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |         value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY event_id DESC) = 1)
        |SELECT e.event_id, e.user_id, e.ts,
        |       p.purchase_id AS asof_purchase_id,
        |       p.purchase_value AS asof_purchase_value
        |FROM events e
        |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.event_id""".stripMargin,

    "q39_star_join" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN supplier ON l_suppkey  = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q40_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN supplier ON l_suppkey  = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q41_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click')    AS click,
        |  count(*) FILTER (WHERE event_type = 'error')    AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |  count(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
