package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB posture, checked in CI:
  * filters/pruning reach the parquet scan, dimension joins broadcast, the
  * assembly UDAF does map-side partial aggregation, sort+limit becomes
  * TakeOrdered. A regression here is a scale bug even when results stay
  * correct. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("filter pushdown and column pruning reach the scan") {
    val p = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 40)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("q21 joins broadcast every dimension (single scan of the fact side)") {
    val p = plan("q21_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q39 six-way star join: all five non-fact sides broadcast, date " +
    "filter reaches the orders scan, no cartesian") {
    val p = plan("q39_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 5, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the one-year predicate must prune at the parquet scan, not post-join
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q12 assembly: one ObjectHashAggregate pair (map-side partial, " +
    "then final) behind one hash exchange") {
    val p = plan("q12_trip_assembly")
    assert("ObjectHashAggregate".r.findAllIn(p).length == 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("q07 sort+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q07_limit_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q15 box-overlap self-join is the bucketed equi-join, not a " +
    "nested-loop (the O(|A|×|B|) shape would not survive 100× entities)") {
    val p = plan("q15_box_overlaps")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // bucket explode feeding an equi-join on the bucket id
    assert(p.contains("Generate explode"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q36 gap-split: by-key assembly shape, no cartesian") {
    val p = plan("q36_gap_split")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).length == 2, p) // partial+final
  }

  test("qx5 jaccard and qe5 near-dup: equi-joins only (inverted-index / " +
    "band-key shapes — no all-pairs nested loop)") {
    Seq("qx5_ngram_jaccard", "qe5_neardup_lsh").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("qe11 semDedup: the pairwise stage is a cell equi-join (no " +
    "all-pairs nested loop); the centroid table broadcasts") {
    val p = plan("qe11_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop allowed is the broadcast of the fixed-size
    // centroid table (a crossJoin of nlist rows), never corpus×corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p) // within-cell join is keyed
  }

  test("qe26 residual IVFADC: the compressed index never carries the " +
    "original embedding, candidate generation is a broadcast cell join " +
    "(no cartesian), and the native encode/ADC kernels are in the plan") {
    val p = plan("qe26_ivfpq_residual")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("qz1 capped semDedup: chunk assignment is hash-mod against a " +
    "broadcast size frame — no window partitioned by cell anywhere (the " +
    "shape that single-tasked a pathologically hot cell), and the " +
    "size-frame attach is a broadcast join") {
    val p = plan("qz1_semdedup_hotcap")
    assert(!p.matches("(?s).*windowspecdefinition\\(cell#.*"),
      s"no per-cell window allowed:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx23 span removal: equi-joins only, gram frame lineage-cut once, " +
    "coverage is a per-row indexed filter over the doc's own token array " +
    "(no token re-explode, no window exchange, no token-x-gram range join)") {
    val p = plan("qx23_span_removal")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the dup-start list joins back to docs as a broadcast, and the
    // coverage test never leaves the row
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("q50 correlated LATERAL top-k decorrelates to WindowGroupLimit " +
    "(map-side partial top-2 per nation, no per-nation re-execution)") {
    val p = plan("q50_lateral_topk")
    // the telltale of a NON-decorrelated lateral would be a nested-loop
    // or cartesian re-execution per outer row
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p) // group-limit prunes BEFORE the shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("qx28 entropy is a narrow map: the kernel runs inside the scan's " +
    "project, the only exchange is the output ordering") {
    val p = plan("qx28_entropy")
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("rangepartitioning"), p)
    assert(p.contains("token_entropy"), p)
  }

  test("qx30 zipf fit: one vocab-rollup shuffle feeds the per-source " +
    "window; the 200-point OLS never leaves the row (no float aggregate)") {
    val p = plan("qx30_zipf_slope")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p) // rank<=200 prunes map-side
    // the OLS sums are array folds, not order-sensitive SQL aggregates
    assert(!p.contains("regr_"), p)
  }

  test("q44 Q21-shape: the EXISTS/NOT-EXISTS pair plans as semi + anti " +
    "joins (no per-row subquery), supplier dim broadcasts, no cartesian") {
    val p = plan("q44_waiting_supplier")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("date-partitioned writes prune partitions at scan (PartitionFilters)") {
    import org.apache.spark.sql.functions.{to_date, col => c}
    val dir = tempDir("part").toString + "/ev"
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(c("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val read = spark.read.parquet(dir)
      .where(c("day") === "2024-01-05")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // and the pruned read returns exactly that day's rows
    val expected = Tables.events(spark, sfDir)
      .where(to_date(c("ts")) === "2024-01-05").count()
    assert(read.count() == expected && expected > 0)
  }

  test("events scan prunes to referenced columns only") {
    val p = plan("q02_group_count")
    assert(p.contains("ReadSchema: struct<user_id:bigint>"))
  }

  test("qx12 stratified sample: no exchange before the filter — the " +
    "sampling decision rides the scan stage") {
    val p = SparkEntry.queries("qx12_stratified_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the only exchange allowed is the final presentation orderBy
    val beforeSort = p.split("Sort ").last // deepest fragment: scan side
    assert(!beforeSort.contains("Exchange hashpartitioning"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }

  test("qx13 decontamination: probe side broadcasts (benchmark-sized), " +
    "no cartesian") {
    val p = plan("qx13_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("qx14 tfidf: corpus-count join broadcasts; token frame is scanned " +
    "once (lineage cut), no cartesian blowup") {
    val p = plan("qx14_tfidf")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row N frame must broadcast (BroadcastExchange or reused),
    // never a shuffled join against the scored frame
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the exploded-token frame is materialized: both consumers read the
    // cut (checkpoint scan or cached InMemoryTableScan), not two parquet
    // scans of documents
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2 ||
      "InMemoryTableScan".r.findAllIn(p).length >= 2 ||
      "Scan parquet".r.findAllIn(p).length <= 2, p)
  }

  test("qe8 PQ: queries broadcast to both stages and the top-k windows " +
    "push a partial WindowGroupLimit below the q_id shuffle") {
    val p = plan("qe8_pq_adc")
    // both the ADC stage and the re-rank join broadcast the small side
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // rank<=k filters become partial group limits map-side — without
    // this, a hot q_id partition would receive the full corpus at scale
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }

  test("qx16 span-dedup: gram frame is lineage-cut (one tokenize pass), " +
    "all joins are equi-joins on the 60-bit hash / doc_id") {
    val p = plan("qx16_span_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // both df-agg and join-back legs read the materialized gram frame
    // (checkpoint scan or cached InMemoryTableScan)
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 2 ||
      "InMemoryTableScan".r.findAllIn(p).length >= 2 ||
      "Scan parquet".r.findAllIn(p).length <= 2, p)
  }

  test("qx18 quantiles: agg state is one row per distinct (lang, n_chars)" +
    " — partial aggregation before the shuffle, no percentile buffers") {
    val p = plan("qx18_length_quantiles")
    assert(!p.contains("percentile"), p)
    // histogram agg runs partial (map-side) + final around one exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q40 volume shipping: nation filter broadcasts into supplier and " +
    "customer BEFORE the fact joins; date range reaches the lineitem scan") {
    val p = plan("q40_volume_shipping")
    // two 2-row nation broadcasts + (at test SF) AQE may broadcast the
    // filtered cust/sup sides into the facts too — require at least the
    // nation pair, forbid cartesians
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("qx20 bm25: query-term filter is applied at the scan side (pushed " +
    "into the narrow pass, before any shuffle); global top-20 is " +
    "TakeOrdered, not a full sort") {
    val p = plan("qx20_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    // corpus stats and df join as broadcasts — the only exchanges are the
    // two aggregations' partial/final pairs
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qe10 SQ8: bounds row and queries broadcast; shortlist and final " +
    "top-k windows run as group-limits, corpus never sort-merge-joined") {
    val p = plan("qe10_ann_sq8")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qx22 mixture rebalance: per-source masses and corpus totals " +
    "broadcast — the keep decision never shuffles the corpus") {
    val p = plan("qx22_mixture_rebalance")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p) // the 1-row totals cross join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("production LSH band join (qx19 and Dedup.bandedPairs, the " +
    "qx11/qp1 pair stage): the hot-band guard anti-joins the over-cap " +
    "bucket set BEFORE the self-join") {
    // round 17: qx19 reads the per-dir staged band-pair fact, so its own
    // plan is the source rollup over a parquet scan of (d1, d2) — the
    // guard now lives in the staging PRODUCER (asserted below via the
    // verbatim bandedPairs plan); qx19's plan must stay join-sane
    val p19 = plan("qx19_source_overlap")
    assert(!p19.contains("CartesianProduct") &&
      !p19.contains("BroadcastNestedLoopJoin"), p19)
    // the qx11/qp1 candidate stage, asserted directly (their final plans
    // end after the eager connected-components finish)
    val sig = Tables.documents(spark, sfDir)
      .withColumn("toks", graft.ext.Text.tokens(col("text")))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        graft.ext.Text.lshBandsFromToks(col("toks"), 4)).as("band"))
    val pp = graft.ext.Dedup.bandedPairs(sig)
      .queryExecution.executedPlan.toString
    assert(pp.contains(s"> ${graft.ext.Dedup.DefaultBandCap}"), pp)
    assert(pp.contains("LeftAnti"), pp)
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"), pp)
  }

  test("qx34 bigram LM: the (doc, bigram) frame is cut once and reused " +
    "(no re-explode per leg), keys are longs, V is a one-row broadcast") {
    val p = plan("qx34_lm_score")
    // occ + cb are materialized frames: the fact leg, the bigram-count
    // leg, and the context leg all read ExistingRDDs...
    assert("Scan ExistingRDD".r.findAllIn(p).length >= 3, p)
    // ...so the only explode left in the final plan is the vocabulary
    // count's unigram-hash pass
    assert("Generate explode".r.findAllIn(p).length == 1, p)
    // the V cross join is the single one-row nested-loop broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx35 DSIR: one gram-stream pass (occ cut; model rollup derives " +
    "from occ, never a second explode), the two one-row totals are " +
    "the only nested-loop broadcasts, no cartesian") {
    val p = plan("qx35_dsir_weights")
    // the single explode ran at occ's materialization — the final plan
    // reads the (doc, bucket) fact and the ≤ 2B-row model rollup as
    // materialized frames and contains NO explode (see Models scaladoc)
    assert(!p.contains("Generate explode"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    // ns and nt are the only nested-loop joins, both one-row broadcasts
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx36 NB: model dims broadcast against the fact, integer " +
    "log-space (no array fold), argmax is a plain min_by aggregate " +
    "(no window/sort machinery), no cartesian") {
    val p = plan("qx36_nb_langid")
    // single gram pass at occ's materialization; no explode survives
    assert(!p.contains("Generate explode"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    // the label-grid cross join broadcasts the (labels, nl) dim and the
    // in-plan prior broadcasts its one-row total; no unbounded nested
    // loop appears beyond those two bounded builds
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2, p)
    // argmax is min_by over (−score, lblc) — an aggregate, not a rank:
    // the only window in the plan is the label-DICTIONARY row_number
    // (≤ |labels| rows, single task by design); no window ever touches
    // a doc- or fact-grain frame
    assert(p.contains("min_by"), p)
    assert("windowspecdefinition".r.findAllIn(p).length ==
      "windowspecdefinition\\(lbl#".r.findAllIn(p).length,
      s"only the label-dictionary window is allowed:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the exact-integer score path leaves no per-doc array machinery
    assert(!p.contains("array_sort") && !p.contains("collect_list"), p)
  }

  test("qx37 packing: ONE window, partitioned by the source shard key " +
    "(prefix sums never funnel through a global order), no cartesian") {
    val p = plan("qx37_pack_sequences")
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    assert(p.contains("windowspecdefinition(source"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx38 chunking: narrow map + bounded explode — zero hash " +
    "exchanges (the presentation sort is the only shuffle)") {
    val p = plan("qx38_chunk_overlap")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("qx39 CMS: vocabulary rollup is the only corpus shuffle; top-20 " +
    "is a TakeOrdered and every later join is a bounded broadcast") {
    val p = plan("qx39_cms_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qx40 weighted sample: per-lang top-16 prunes via " +
    "WindowGroupLimit before any sort exchange") {
    val p = plan("qx40_weighted_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx41 delta dedup: the index-side hot-band cap is a left-anti " +
    "guard (bandedPairs discipline) ahead of the probe join") {
    val p = plan("qx41_delta_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains(s"> ${graft.ext.Dedup.DefaultBandCap}"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx42 CDC chunking kernel is narrow: boundary detection, chunk " +
    "slicing and fingerprinting are per-row array ops — zero exchanges") {
    val p = graft.ext.Dedup.cdcChunks(
      Tables.documents(spark, sfDir)
        .withColumn("toks", graft.ext.Text.tokens(col("text"))))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("posexplode"), p)
  }

  test("qx42 chunk-dedup aggs shuffle the 8-byte chunk key only; no " +
    "cartesian anywhere") {
    val p = plan("qx42_cdc_chunks")
    assert(p.contains("hashpartitioning(k#"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("qx43 winnowing: fingerprint df agg and join shuffle 8-byte " +
    "values; no cartesian") {
    val p = plan("qx43_winnow_fingerprint")
    assert(p.contains("hashpartitioning(v#"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx44 KL: everything after the cut fact is bounded — the one-row " +
    "total and the per-source marginals ride broadcast nested-loop " +
    "joins, never a cartesian") {
    val p = plan("qx44_kl_divergence")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx45 Bloom: the bit-set is a broadcast build side — the corpus " +
    "gram stream is membership-tested without shuffling for it") {
    val p = plan("qx45_bloom_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qx46 cluster sample: centroid assignment broadcasts (no corpus " +
    "shuffle for the argmax) and the per-cell quota prunes via " +
    "WindowGroupLimit") {
    val p = plan("qx46_cluster_sample")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("qe23 centroid outliers: the |labels|-row centroid frame " +
    "broadcasts onto the member pass and the per-label top-5 prunes " +
    "via WindowGroupLimit (map-side partial top-k)") {
    val p = plan("qe23_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qz19 key skew: the global top-10 plans as " +
    "TakeOrderedAndProject, never a full global sort") {
    val p = plan("qz19_key_skew")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("qz21 daily OHLC: first/last ride struct min/max inside ONE " +
    "aggregation — no Window operator in the plan") {
    val p = plan("qz21_daily_ohlc")
    assert(!p.contains("WindowExec") && !"\\bWindow\\b".r
      .findFirstIn(p.replace("WindowGroupLimit", "")).exists(_ => true),
      p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("qz47 sweep line: the point-grain running sum is PARTITIONED " +
    "by day — no global-order window ever sees corpus-grain rows") {
    val p = plan("qz47_peak_concurrency")
    // day-partitioned running sum over the change points
    assert("windowspecdefinition\\(day#\\d+L, t#".r
      .findFirstIn(p).isDefined, p)
    // a corpus-grain global-order window would order by t without a
    // partition column — its spec would START with t
    assert("windowspecdefinition\\(t#".r.findFirstIn(p).isEmpty, p)
  }

  test("qz46 table profile: five column-pruned scans, never a " +
    "5-distinct EXPAND pass multiplying every row") {
    val p = plan("qz46_table_profile")
    assert(!p.contains("Expand"), p)
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).length == 5, p)
  }

  test("qm14/qm15 frame folds: the run-length and histogram state " +
    "machines are single folds — no Generate explode of frame bytes") {
    assert(!plan("qm14_silence_runs").contains("Generate explode(bv"),
      "qm14 exploded its byte vector")
    assert(!plan("qm15_frame_chi2").contains("Generate explode(bv"),
      "qm15 exploded its byte vector")
  }

  test("qe29 silhouette: the 16-row centroid table broadcasts and the " +
    "top-2 window prunes map-side via WindowGroupLimit") {
    val p = plan("qe29_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("qe31 mmr: the greedy epilogue is ONE small declarative pass " +
    "over the staged shortlist — broadcast joins only, no window, and " +
    "the plan stays an order of magnitude below the old 4-step unroll " +
    "(which re-planned the selected-set lineage into 318 Exchanges)") {
    val p = plan("qe31_mmr_rerank")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the shortlist top-8 window runs once inside the per-dir staging;
    // the declared plan reads its parquet and must carry no Window at all
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window ["), p)
    assert("Exchange".r.findAllIn(p).length <= 12, p)
  }

  test("qe32 triplet margins: both legs broadcast the fenced anchors " +
    "and prune their top-1 windows map-side") {
    val p = plan("qe32_triplet_margins")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }

  test("qe33 top-pc: the query is one scan + TakeOrdered, no global " +
    "sort and no Generate") {
    val p = plan("qe33_top_pc")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Generate explode"), p)
  }

  test("qm18 zcr: the zero-crossing fold never explodes frame bytes — " +
    "no Generate below the asset rollup beyond the frame sampler") {
    val p = plan("qm18_zero_crossings")
    // frameByteVectors' posexplode over frames is the only generator;
    // the per-byte state machine is a fold, not an explode
    assert("Generate".r.findAllIn(p).length == 1, p)
  }

  test("qz51 theil-sen day-pair join: both sides are day-grain " +
    "aggregates — the corpus reaches exactly two scans and the pair " +
    "join never touches row grain") {
    val p = plan("qz51_theil_sen")
    // day-grain frames are tiny: the self-join must broadcast
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("qz55 bootstrap: the x64 replicate explode collapses map-side — " +
    "partial aggregation sits below the replicate-key exchange") {
    val p = plan("qz55_poisson_bootstrap")
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("q55 bucketed join: both sides read bucket-aligned files — with " +
    "broadcast off (the too-big-to-broadcast posture) the SMJ runs " +
    "with NO Exchange on the join key") {
    // at fixture scale the dim auto-broadcasts (also shuffle-free);
    // the layout's point is the big-dim case, so pin that shape
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q55_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning(user_id"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("q56 partition prune: the event_type predicate lands in " +
    "PartitionFilters, not a post-scan filter") {
    val p = plan("q56_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    assert(p.contains("(event_type") && p.contains("= purchase"), p)
  }

  test("qx81 dictionary: NO single-partition window anywhere in the " +
    "plan — dense token ids come from the distributed sorted " +
    "zipWithIndex, so the vocabulary never funnels through one task " +
    "(the round-11 weak mark)") {
    val p = plan("qx81_prefix_join")
    assert(!p.contains("Exchange SinglePartition"), p)
    // and the window operator class is gone from this query entirely
    assert(!p.contains("Window ["), p)
  }
}
