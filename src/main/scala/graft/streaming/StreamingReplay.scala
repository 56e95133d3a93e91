package graft.streaming

import java.sql.Timestamp

import scala.collection.immutable.ListMap
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.{EventLog, Stage}

/** Trigger-once file-source replay of the streaming engine, returning a
  * BATCH DataFrame — the bridge that puts Structured Streaming under the
  * same DuckDB hash gate as every batch operator (declared as
  * `qs1_stream_replay`, oracled by the q36 gap-split SQL).
  *
  * Shape: events → 3 sequential parquet chunks (deterministic mod-times;
  * maxFilesPerTrigger=2 → 2 micro-batches in event-time order) →
  * [[StreamingAssembly.assembleGapSessions]] (watermark +
  * flatMapGroupsWithState) → memory sink → q36's per-segment rollup.
  * A far-future sentinel per user in the last chunk closes every open
  * tail via the in-batch gap rule, so the emitted set is total. Every
  * replay runs through one runner, [[replay]].
  *
  * MICRO-BATCH COUNT (VERDICT r14 #2): every arm reads its 3 staged
  * chunks at maxFilesPerTrigger=2 (2 data batches + the watermark's
  * no-data flush batch), down from 1 (3–4 batches) — after rawckpt://
  * and the fileChecksum cut took the checkpoint I/O, the family's
  * remaining floor was ~0.4 s of planning/state-commit machinery PER
  * BATCH, so one fewer batch per arm is the honest lever left. This is
  * sound because every arm's emitted SET is chunking-invariant by
  * construction, each for a pinned reason in its scaladoc: chunks are
  * slices of ONE global (event-time, id) order, so merging adjacent
  * slices (a) preserves delivery order, (b) can only RAISE no
  * intermediate watermark above what the later slice's own batch would
  * set (the entering watermark of the FINAL batch is identical:
  * max(chunks 0∪1) = max(chunk 1) under ordered slicing), and (c)
  * leaves the final sentinel-driven watermark — which alone decides
  * Append finalization, outer-join null emission, and timer firing —
  * unchanged; stateful processors sort per-key rows in-batch, so
  * in-batch merge order is already the exercised path. The two arms
  * whose STORY is per-batch stay at 1: qs26 (the file sink's
  * exactly-once manifest across multiple commits) and the
  * idle-session spec harness (Round9bSpec's planted timer fixture).
  * qs23 reads its executor-written part files at 8 per trigger: they
  * all carry one mod-time, so they drain in arbitrary batches before
  * the later-stamped sentinel file. qs27's DSv2 arm keeps its own
  * maxFilesPerBatch=3 rate-limit story.
  *
  * The driver-side collect here is the REPLAY HARNESS, not the operator:
  * chunking a batch table into deterministic micro-batch files needs the
  * rows in hand (same technique as StreamingSpec). The system under test
  * — watermarking, keyed state, gap timeouts — runs fully distributed;
  * a production deployment reads a real file/Kafka source and never
  * collects anything.
  */
object StreamingReplay {

  private val runSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The session confs a stateful replay starts under (streaming fixes
    * them at query start):
    *  - 2 shuffle partitions, so 2 state stores: a replay's cost is
    *    per-store-per-batch commit machinery, not data (r13 A/B: 8→2 cut
    *    qs3 1.9→1.45 s; 1 loses the last parallelism win). A
    *    stream-stream join keeps four stores per partition and side
    *    (keyWithIndex + keyToNumValues × left/right), so the join
    *    replays gain the most. State is key-hashed, so the emitted set
    *    does not depend on the count; it is a deployment tuning the
    *    checkpoint carries, not semantics.
    *  - the minimum state/offset-log retention: a trigger-once replay
    *    never restarts from an old batch, and the default 100-batch
    *    retention fsyncs snapshot files the replay deletes moments later.
    *  - no checkpoint file checksums: Spark 4.1 writes one .crc companion
    *    per state delta/snapshot to catch corruption on durable storage
    *    across restarts; these same-JVM scratch checkpoints are never
    *    restored, so the companion write is pure constant (the reasoning
    *    behind the rawckpt:// scheme). */
  private val StateConfs = Seq(
    "spark.sql.shuffle.partitions" -> "2",
    "spark.sql.streaming.minBatchesToRetain" -> "2",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** [[StateConfs]] on the RocksDB state store, which transformWithState
    * requires. */
  private val RocksDBConfs = StateConfs :+
    ("spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"))

  /** Runs `body` with `confs` set on the session, then gives each key its
    * prior value back (a key that was not set is unset again), so a
    * replay never leaks session config. */
  private def withConfs[A](spark: SparkSession,
                           confs: Seq[(String, String)])(body: => A): A = {
    val set = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> set.get(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One micro-batch of a replay query, from its progress report:
    * `durationMs` holds the [[Phases]] the batch ran, in that order, and
    * `stateCommitMs` each state operator's commit time. */
  final case class Batch(query: String, batchId: Long, inputRows: Long,
                         durationMs: Map[String, Long],
                         stateCommitMs: Seq[Long])

  private val Phases = Seq("queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "triggerExecution")

  private val batches = new EventLog[Batch](4096)

  /** The batches the replays ran since the last drain, oldest first. */
  def drainBatches(): Seq[Batch] = batches.drain()

  /** The staged parquet chunks in `dir` as a file stream of `T` rows,
    * `perTrigger` files per micro-batch in mod-time order. */
  private def files[T <: Product : TypeTag](spark: SparkSession,
      dir: String, perTrigger: Int = 2): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", perTrigger.toString)
      .schema(Encoders.product[T].schema).parquet(dir)

  /** The replay runner: starts `frame` as the query `<key>_replay_<n>`
    * (the scope of `confs` covers the start), drains it — awaiting
    * termination under `availableNow`, else processAllAvailable — and
    * records each batch's progress for [[drainBatches]]. Whether or not
    * the drain throws, it then stops the query and drops the memory
    * sink's temp view: the returned frame holds the resolved sink plan,
    * so the view only pinned the rows for the session (repeated bench
    * runs would accumulate one full result copy per run). A `sink`
    * points the query at another sink, and the result is then empty.
    *
    * Each query's scratch checkpoint sits under the shared checkpoint
    * root, addressed through the checksum-free `rawckpt://` scheme (see
    * [[RawCkptFs]]): the per-micro-batch WAL/state-delta constant halves
    * when each tiny checkpoint write stops being two files (payload +
    * .crc sidecar). Scoped to this root only — sources/sinks stay on
    * default file://. A real deployment sets a durable
    * checkpointLocation per query; the replay never restarts a query
    * from this one. */
  private[graft] def replay(spark: SparkSession, key: String,
      mode: OutputMode = OutputMode.Append(),
      confs: Seq[(String, String)] = StateConfs,
      availableNow: Boolean = false,
      sink: Option[DataStreamWriter[Row] => DataStreamWriter[Row]] = None)(
      frame: => DataFrame): DataFrame = {
    val name = s"${key}_replay_${runSeq.incrementAndGet()}"
    RawCkptFs.register(spark)
    val q = withConfs(spark, confs) {
      val w = frame.writeStream.outputMode(mode).queryName(name)
        .option("checkpointLocation", s"rawckpt://${Stage.ckptRoot}/$name")
      val sunk = sink.fold(w.format("memory"))(_(w))
      (if (availableNow) sunk.trigger(Trigger.AvailableNow()) else sunk)
        .start()
    }
    try {
      if (availableNow) q.awaitTermination() else q.processAllAvailable()
      if (sink.isEmpty) spark.table(name) else spark.emptyDataFrame
    } finally {
      q.recentProgress.foreach { p =>
        batches.record(Batch(name, p.batchId, p.numInputRows,
          ListMap.from(Phases.flatMap(k =>
            Option(p.durationMs.get(k)).map(k -> _.longValue))),
          p.stateOperators.map(_.commitTimeMs).toSeq))
      }
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  private def micros(t: Timestamp): Long = Times.micros(t)

  /** The part files a write left in `dir`, by name. */
  private def partFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** Write `chunks` into `dst` as ONE parquet file each with strictly
    * increasing mod-times — the file source admits them in this order,
    * maxFilesPerTrigger files per micro-batch.
    *
    * Every replay stages its INPUT this way: the input is a pure function
    * of the table (and the replay's parameters), so repeated runs reuse
    * one staging. The system under test — the streaming query itself —
    * still executes in full on every run; only the harness-side staging
    * (which a real deployment wouldn't do at all: its source files
    * exist) is shared. */
  private def writeChunks[T](spark: SparkSession, chunks: Seq[Seq[T]],
                             dst: String)(
      implicit enc: org.apache.spark.sql.Encoder[T]): String = {
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (c, i) =>
      val tmp = Stage.scratch(s"w$i").toString
      spark.createDataset(c).coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(dst, f"chunk$i%02d.parquet")
      java.nio.file.Files.move(partFiles(tmp).head.toPath, f.toPath)
      f.setLastModified(base + i * 10000L)
    }
    dst
  }

  /** `xs` as three consecutive slices, `tail` appended to the last, with
    * empty slices dropped: the replays' micro-batch chunking. */
  private def thirds[T](xs: Array[T], tail: Seq[T] = Nil): Seq[Seq[T]] = {
    val k = math.max(xs.length / 3, 1)
    Seq(xs.slice(0, k).toSeq, xs.slice(k, 2 * k).toSeq,
      xs.drop(2 * k).toSeq ++ tail).filter(_.nonEmpty)
  }

  /** events(dir) in the global (event-time µs, event_id) replay order. */
  private def sortedEvents(spark: SparkSession, dir: String)
      : Array[WEvent] = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .as[WEvent].collect().sortBy(e => (micros(e.ts), e.event_id))
  }

  /** The qs1/qs7 staging, keyed (dir, gapSec) because the sentinel
    * margin encodes the gap: events in replay order, 3 chunks, one
    * sentinel per user gapSec + 2 h past the last event in the tail
    * chunk. */
  private def stagedGapChunks(spark: SparkSession, fact: String,
                              dir: String, gapSec: Long)
      : Option[(String, Timestamp)] = {
    import spark.implicits._
    import StreamingAssembly.EventIn
    Stage(fact, (dir, gapSec)) { d =>
      val ev = sortedEvents(spark, dir)
        .map(e => EventIn(e.user_id, e.ts, e.event_id, e.value))
      Option.when(ev.nonEmpty) {
        val sentTs = new Timestamp(
          (micros(ev.last.ts) / 1000L) + (gapSec + 7200) * 1000L)
        val sentinels = ev.map(_.user_id).distinct
          .map(u => EventIn(u, sentTs, Long.MaxValue, 0.0))
        (writeChunks(spark, thirds(ev, sentinels.toSeq), d), sentTs)
      }
    }
  }

  /** Replay `events(dir)` through the gap-session engine; returns the
    * closed trips rolled up exactly like q36 (user_id, seg, n, t0_us,
    * t1_us, xmin, xmax). */
  def gapSessionsReplay(spark: SparkSession, dir: String,
                        gapSec: Long = 3600L): DataFrame = {
    import spark.implicits._
    import StreamingAssembly.EventIn
    stagedGapChunks(spark, "qs1-replay", dir, gapSec).fold(
      graft.Tables.empty(spark, "user_id BIGINT, seg BIGINT, n BIGINT, " +
        "t0_us BIGINT, t1_us BIGINT, xmin DOUBLE, xmax DOUBLE")) {
      case (src, sentinelTs) =>
        val sunk = replay(spark, "qs1")(StreamingAssembly
          .assembleGapSessions(files[EventIn](spark, src).as[EventIn], gapSec)
          .toDF())
        // q36's output shape over the closed-trip set: seg = 0-based
        // per-user rank by start time; segment stats from the trip's own
        // arrays (t is assembled in ascending time order)
        val w = Window.partitionBy("user_id").orderBy("start_ts")
        sunk
          .where(col("start_ts") < lit(sentinelTs)) // defensive: no sentinels
          .withColumn("seg", (row_number().over(w) - 1).cast("long"))
          .select(col("user_id"), col("seg"),
            col("n_posits").as("n"),
            element_at(col("t"), 1).as("t0_us"),
            element_at(col("t"), -1).as("t1_us"),
            array_min(col("v")).as("xmin"),
            array_max(col("v")).as("xmax"))
          .orderBy("user_id", "seg")
    }
  }

  /** Replay events(dir) ∪ its signup rows (tagged as references) through
    * the streaming backward as-of join ([[StreamingAsof]]), returning
    * q37's exact shape — (event_id, user_id, ts, asof_signup_id,
    * asof_signup_value) ordered by event_id — so DuckDB's NATIVE ASOF
    * JOIN oracle checks the streaming engine (declared as
    * `qs2_stream_asof`). Chunking is in global (ts, src) order with
    * references before events at equal timestamps, so every reference is
    * visible no later than the first event it enriches — the operator's
    * documented stream==batch equivalence window. maxBuffer is set above
    * any user's signup count so no history is pruned (exactness, like
    * the NoTimeout choice). */
  def asofReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import StreamingAsof.Tagged
    Stage("qs2-replay", dir) { d =>
      val tagged = sortedEvents(spark, dir).flatMap { e =>
        val ev = Tagged(e.user_id, e.ts, 1, e.event_id, -1L, 0.0)
        if (e.event_type == "signup")
          Seq(Tagged(e.user_id, e.ts, 0, -1L, e.event_id, e.value), ev)
        else Seq(ev)
      }.sortBy(x =>
        (micros(x.ts), x.src, if (x.src == 0) x.ref_id else x.event_id))
      Option.when(tagged.nonEmpty)(writeChunks(spark, thirds(tagged), d))
    }.fold(graft.Tables.empty(spark, "event_id BIGINT, user_id BIGINT, " +
      "ts TIMESTAMP, asof_signup_id BIGINT, asof_signup_value DOUBLE")) {
      src =>
        replay(spark, "qs2", StreamingAsof.outputMode)(StreamingAsof.enrich(
          files[Tagged](spark, src).as[Tagged], maxBuffer = 1 << 20).toDF())
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ref_id").as("asof_signup_id"),
            col("asof_ref_value").as("asof_signup_value"))
          .orderBy("event_id")
    }
  }

  private[streaming] case class DDoc(doc_id: Long, ts: Timestamp,
                                     text: String)

  /** documents(dir) as DDoc rows by doc_id, event time synthesized as
    * doc_id seconds from a fixed, window-aligned epoch. */
  private def sortedDocs(spark: SparkSession, dir: String): Array[DDoc] =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => DDoc(r.getLong(0),
        new Timestamp(946684800000L + r.getLong(0) * 1000L),
        r.getString(1)))
      .sortBy(_.doc_id)

  /** ONE staged input for the two document replays with identical
    * content (qs4 dedup, qs6 stream-static decontam): DDoc rows with
    * synthesized event time, 3 chunks, no sentinel. */
  private def stagedDocChunks(spark: SparkSession, dir: String)
      : Option[String] = {
    import spark.implicits._
    Stage("docs-replay", dir) { d =>
      val docs = sortedDocs(spark, dir)
      Option.when(docs.nonEmpty)(writeChunks(spark, thirds(docs), d))
    }
  }

  /** Replay documents(dir) through the bounded-state streaming exact
    * dedup ([[StreamingDedup.dedupByFingerprint]],
    * `dropDuplicatesWithinWatermark`) with a horizon longer than the
    * replayed stream's span, so the emitted set is exactly one survivor
    * per distinct content fingerprint — the global-dedup contract a
    * batch `SELECT DISTINCT md5(…)` oracles (declared as
    * `qs4_stream_dedup`; the horizon-EVICTION path, which re-admits
    * duplicates farther apart than the horizon, is pinned by
    * StreamingSpec's planted test — it is chunk-timing-dependent by
    * design and has no batch twin). Event time is synthesized
    * deterministically (doc_id seconds from a fixed epoch); which
    * duplicate survives a same-batch collision is arbitrary, so the
    * output projects the fingerprint itself and nothing row-specific —
    * the emitted SET is deterministic even where the winner isn't. */
  def dedupReplay(spark: SparkSession, dir: String): DataFrame =
    stagedDocChunks(spark, dir).fold(graft.Tables.empty(spark, "fp STRING")) {
      src =>
        // 365-day horizon ≫ any replayed table's synthesized span (1 s per
        // doc_id): nothing evicts, so streaming == global batch dedup
        replay(spark, "qs4")(StreamingDedup.dedupByFingerprint(
          files[DDoc](spark, src), "ts", "365 days"))
          .select(col("fp")).orderBy("fp")
    }

  /** Replay documents(dir) through the CHAINED stateful aggregation path
    * ([[StreamingTopTerms]]: windowed term counts → per-window top-k over
    * a second stateful agg) and return the closed windows as a batch
    * frame — (win_start, rank, term, cnt) — so a batch GROUP BY +
    * row_number twin oracles the multi-agg streaming machinery (declared
    * as `qs5_stream_topterms`; qs3 covers a SINGLE windowed agg — the
    * chained form finalizes stage-2 state off stage-1's watermark-driven
    * emissions, a different engine path). Event time is synthesized
    * deterministically (doc_id seconds from a fixed, window-aligned
    * epoch), so each 2-minute window holds a fixed doc range and the
    * emitted set is a pure function of the table. A far-future sentinel
    * doc in the last chunk drives the watermark past every real window;
    * the sentinel's own window stays open in state and is filtered
    * defensively. */
  def topTermsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the staged sentinel bounds the defensive output filter
    Stage("qs5-replay", dir) { d =>
      val docs = sortedDocs(spark, dir)
      Option.when(docs.nonEmpty) {
        val sentTs =
          new Timestamp(docs.last.ts.getTime + 3L * 86400_000L)
        val sentinel = DDoc(-1L, sentTs, "__sentinel__")
        (writeChunks(spark, thirds(docs, Seq(sentinel)), d), sentTs)
      }
    }.fold(graft.Tables.empty(spark,
      "win_start TIMESTAMP, rank BIGINT, term STRING, cnt BIGINT")) {
      case (src, sentinelTs) =>
        replay(spark, "qs5")(StreamingTopTerms.topTerms(
          files[DDoc](spark, src), "ts",
          watermarkDelay = "1 hour", windowDur = "2 minutes", k = 5))
          .where(col("win_start") < lit(sentinelTs))
          .select(col("win_start"), posexplode(col("top")))
          .select(col("win_start"), (col("pos") + 1).cast("long").as("rank"),
            col("col.term").as("term"), col("col.cnt").as("cnt"))
          .orderBy("win_start", "rank")
    }
  }

  /** Replay the TRAIN slice of documents(dir) through a STREAM-STATIC
    * join — the streaming-ingest decontamination gate: incoming docs'
    * distinct 3-gram keys join a STATIC benchmark gram index (built
    * batch-side from the held-out slice), and contaminated doc ids are
    * deduped with bounded state. Declared as `qs6_stream_static`; the
    * stream-static join is the one Structured Streaming join family
    * qs1–qs5 don't touch (stateless per-row enrichment against a batch
    * frame — on a real cluster the static side is a broadcast or a
    * bucketed table, and the stream never shuffles corpus-sized state).
    * The emitted SET equals qx13-style batch decontamination, so the
    * batch gram-join SQL oracles it. */
  def streamStaticDecontamReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.meos.NativeExpressions
    stagedDocChunks(spark, dir).fold(
      graft.Tables.empty(spark, "doc_id BIGINT")) { src =>
      // STATIC side: the benchmark slice's distinct gram keys (batch
      // frame; benchmark-sized, so AQE broadcasts it under the
      // stream-static join)
      val probe = graft.Tables.documents(spark, dir)
        .where(col("doc_id") % 97 === 0)
        .withColumn("toks", graft.ext.Text.tokens(col("text")))
        .where(size(col("toks")) >= 3)
        .select(explode(array_distinct(
          NativeExpressions.shingleHashes(col("toks"), 3))).as("gk"))
        .distinct()
      replay(spark, "qs6") {
        files[DDoc](spark, src)
          .where(col("doc_id") % 97 =!= 0)
          .withColumn("toks", graft.ext.Text.tokens(col("text")))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"), col("ts"), explode(array_distinct(
            NativeExpressions.shingleHashes(col("toks"), 3))).as("gk"))
          .join(probe, Seq("gk")) // stream-static inner join, stateless
          .select(col("doc_id"), col("ts"))
          .withWatermark("ts", "365 days")
          .dropDuplicatesWithinWatermark("doc_id")
          .select(col("doc_id"))
      }.select(col("doc_id")).orderBy("doc_id")
    }
  }

  /** Replay events(dir) through Spark's BUILT-IN `session_window`
    * aggregation — dynamic-gap session windows merged by the engine's
    * session-merge state store, the one sessionization path qs1 (custom
    * flatMapGroupsWithState gap logic) deliberately does not use.
    * Declared as `qs7_session_window`; the twin is the classic
    * islands-and-gaps SQL, so the engine's merge rule (INCLUSIVE session
    * end: an event at exactly lastTs+gap merges, only a strictly larger
    * gap breaks — pinned by Round9Spec's boundary test, which is the only
    * thing that can tell the rules apart on micros-grain data) is what
    * the hash gate checks. Same harness discipline as
    * qs1: 3 deterministic chunks, one far-future sentinel per user drives
    * the watermark past every real session's end so the emitted set is
    * total; sentinel sessions stay open/filtered. Output per closed
    * session: (user_id, t0_us, t1_us, n) in integer micros. */
  def sessionWindowReplay(spark: SparkSession, dir: String,
                          gapSec: Long = 21600L): DataFrame =
    stagedGapChunks(spark, "qs7-replay", dir, gapSec).fold(
      graft.Tables.empty(spark,
        "user_id BIGINT, t0_us BIGINT, t1_us BIGINT, n BIGINT")) {
      case (src, sentinelTs) =>
        replay(spark, "qs7") {
          files[StreamingAssembly.EventIn](spark, src)
            .withWatermark("ts", "1 hour")
            .groupBy(col("user_id"),
              session_window(col("ts"), s"$gapSec seconds"))
            .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
        }
          .where(col("session_window.start") < lit(sentinelTs))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("t0_us"),
            unix_micros(col("last_ts")).as("t1_us"), col("n"))
          .orderBy("user_id", "t0_us")
    }

  // ONE staged input for ALL SIX stream-stream join replays (qs8 inner /
  // qs9 left outer / qs11 full outer / qs18 semi / qs24 right outer /
  // qs28 join-then-window) — the content is identical across them:
  // click/purchase events in global (ts, event_id) order, 3 chunks, one
  // far-future sentinel PER SIDE in the tail chunk (each file source
  // carries its own watermark, so both sides need one). Keyed (dir,
  // windowSec): the sentinel margin encodes the window (the round-9 qs9
  // cache lesson). The inner join does not need sentinels to emit, but
  // staging once and filtering the sentinel pair costs one predicate
  // where private stagings cost extra collect+write passes per session
  // (round-12 VERDICT item 4).
  private def stagedJoinChunks(spark: SparkSession, dir: String,
                               windowSec: Long): Option[(String, Timestamp)] = {
    import spark.implicits._
    Stage("ssj-replay", (dir, windowSec)) { d =>
      val ev = sortedEvents(spark, dir)
        .filter(e => e.event_type == "click" || e.event_type == "purchase")
      Option.when(ev.nonEmpty) {
        // past every click's expiry: window + the 1h delay + margin
        val sentTs = new Timestamp(
          (micros(ev.last.ts) / 1000L) + (windowSec + 7200L) * 1000L)
        val sentinels = Seq(
          WEvent(-1L, sentTs, Long.MaxValue - 1, "click", 0.0),
          WEvent(-1L, sentTs, Long.MaxValue, "purchase", 0.0))
        (writeChunks(spark, thirds(ev, sentinels), d), sentTs)
      }
    }
  }

  /** The staged clicks ⋈ purchases in `src` (join type `how`) under the
    * attribution window `p_ts ∈ [c_ts, c_ts + windowSec]`: two
    * INDEPENDENT file-source streams over the same staged chunks, each
    * projecting its side (c_id/c_user/c_ts, p_id/p_user/p_ts) and
    * watermarked at `delay` — exactly how a deployment would tail two
    * topics. */
  private def clicksJoinPurchases(spark: SparkSession, src: String,
                                  windowSec: Long, how: String,
                                  delay: String = "1 hour"): DataFrame = {
    def side(eventType: String, p: String) = files[WEvent](spark, src)
      .where(col("event_type") === eventType)
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        col("ts").as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", delay)
    side("click", "c").join(side("purchase", "p"), expr(
      "c_user = p_user AND p_ts >= c_ts AND " +
        s"p_ts <= c_ts + interval $windowSec seconds"), how)
  }

  private val JoinPairDdl =
    "c_id BIGINT, p_id BIGINT, user_id BIGINT, dt_us BIGINT"

  /** Replay events(dir) through a STREAM-STREAM event-time interval join
    * — the one Structured Streaming join family qs1–qs7 still don't
    * touch (qs6 is stream-STATIC): two independent file-source streams
    * (clicks, purchases) joined on user under the attribution window
    * `p_ts ∈ [c_ts, c_ts + windowSec]`, both sides watermarked so the
    * engine runs its symmetric keyed join-state machinery and emits each
    * pair in whichever micro-batch completes it. Declared as
    * `qs8_stream_stream`; an inner interval join's emitted SET is a pure
    * function of the input — arrival order only decides WHEN a pair
    * emits — so the batch interval-join SQL oracles it exactly.
    * The replay watermark delay (365 days) exceeds the replayed span so
    * no join state is pruned mid-replay (exactness, the qs2 maxBuffer
    * rule); a production deployment sets the delay to its lateness
    * budget and the SAME range condition is what lets the engine bound
    * each side's state to the attribution window — this plan's state
    * never grows with the stream, only with the window. */
  def streamStreamJoinReplay(spark: SparkSession, dir: String,
                             windowSec: Long = 21600L): DataFrame =
    // shared staging with qs9/qs11/qs18/qs24; the sentinels ride along
    // (the inner join matches the sentinel pair against itself only —
    // dropped by the user-sign filter below)
    stagedJoinChunks(spark, dir, windowSec).fold(
      graft.Tables.empty(spark, JoinPairDdl)) { case (src, _) =>
      replay(spark, "qs8")(clicksJoinPurchases(spark, src, windowSec,
        "inner", delay = "365 days"))
        .where(col("c_user") >= 0) // drop the sentinel pair's own row
        .select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("dt_us"))
        .orderBy("c_id", "p_id")
    }

  /** Replay events(dir) through the stream-stream LEFT OUTER interval
    * join — the null-emission machinery qs8's inner form never runs: an
    * unmatched click is held in join state until the watermark proves no
    * in-window purchase can still arrive, then emits ONCE with a null
    * right side. Declared as `qs9_stream_outer`; the emitted set (matched
    * pairs ∪ expired-unmatched clicks) equals the batch LEFT JOIN, so
    * the interval left-join SQL oracles it — the determinism rests on
    * the far-future sentinel PER SOURCE (each file source carries its
    * own watermark; the global watermark is their min, so BOTH sides
    * need one) driving the final state-eviction micro-batch past every
    * real click's expiry. Production posture: the finite 1-hour delay +
    * the range condition bound both sides' state to the attribution
    * window — outer-join state never grows with the stream. */
  def streamStreamOuterReplay(spark: SparkSession, dir: String,
                              windowSec: Long = 21600L): DataFrame =
    stagedJoinChunks(spark, dir, windowSec).fold(
      graft.Tables.empty(spark, JoinPairDdl)) { case (src, _) =>
      replay(spark, "qs9")(
        clicksJoinPurchases(spark, src, windowSec, "left_outer"))
        .where(col("c_user") >= 0) // drop the sentinel's own outer row
        .select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("dt_us"))
        .orderBy(col("c_id"), col("p_id"))
    }

  /** CHAINED STATEFUL OPERATORS — the stream-stream interval join
    * feeding a DOWNSTREAM windowed aggregation inside one streaming
    * query (multiple stateful operators per query, the Spark 3.4+
    * capability the qs family hadn't exercised: every prior arm runs
    * exactly one stateful op). Declared as `qs28_join_then_window`:
    * clicks ⋈ purchases under the 6 h attribution window, then the
    * joined pairs roll into 6 h tumbling event-time windows keyed on
    * the CLICK time — per window, pair count and summed click-to-
    * purchase latency, emitted in Append mode when the watermark
    * passes each window's end. The qs9 posture makes it exact: finite
    * 1 h delay (join state is bounded by the range condition, window
    * state by the watermark) + the far-future sentinel pair per source
    * driving the final eviction batch past every real window end, so
    * the emitted set equals the batch join + GROUP BY. */
  def streamJoinThenWindowReplay(spark: SparkSession, dir: String,
                                 windowSec: Long = 21600L): DataFrame =
    // Sentinels one attribution window FARTHER out than the qs8/qs9
    // staging: watermark PROPAGATION through the chained join delays
    // the downstream operator's watermark by the join's max event-time
    // range (the engine must assume a buffered click can still pair
    // 6 h later), so the agg's effective watermark is wm − windowSec.
    // The qs8 sentinel (maxUs + windowSec + 2 h) leaves the last two
    // real windows unflushed; maxUs + 2·windowSec + 3 h clears every
    // real window end (≤ maxUs + windowSec) with the 1 h delay and the
    // join hold both subtracted.
    stagedJoinChunks(spark, dir, 2 * windowSec + 3600L).fold(
      graft.Tables.empty(spark,
        "w_us BIGINT, n_pairs BIGINT, dt_sum_us BIGINT")) {
      case (src, sentTs) =>
        // NO sentinel filter inside the streaming plan: a `c_user >= 0`
        // predicate here gets PUSHED BELOW the watermark nodes (and
        // inferred onto p_user through the equi-join constraint),
        // deleting the sentinel rows before they can advance either
        // side's watermark — the whole replay then never flushes its
        // last windows. The sentinel pair flows through instead; its
        // window starts ≥ maxUs + 9 h, provably past every real window
        // start, and is dropped from the SUNK result below.
        replay(spark, "qs28") {
          clicksJoinPurchases(spark, src, windowSec, "inner")
            .groupBy(window(col("c_ts"), s"$windowSec seconds"))
            .agg(count(lit(1)).as("n_pairs"),
              sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                .as("dt_sum_us"))
        }
          .select(unix_micros(col("window.start")).as("w_us"),
            col("n_pairs"), col("dt_sum_us"))
          // drop the sentinel pair's own window: it starts after sentTs −
          // windowSec ≥ maxUs + 9 h, while every real window starts ≤ maxUs
          .where(col("w_us") <
            unix_micros(lit(sentTs)) - lit(windowSec * 1000000L))
          .orderBy("w_us")
    }

  /** The stream-stream LEFT SEMI interval join — "which clicks converted
    * within the window", WITHOUT duplicating a click per purchase (qs8's
    * inner join emits every pair; attribution rollups usually want the
    * click once). Engine-wise this is the join-state arm where a
    * matched left row emits EXACTLY ONCE and unmatched rows never emit;
    * the emitted set (clicks with ≥ 1 in-window purchase) is a pure
    * function of the input, so the batch EXISTS oracles it (declared as
    * `qs18_stream_semi`). Same qs9 staging: per-side far-future
    * sentinels drive both watermarks past every click's expiry so even
    * a deferred emission lands before the replay ends; the sentinel
    * pair matches only itself and is filtered on user sign. */
  def streamStreamSemiReplay(spark: SparkSession, dir: String,
                             windowSec: Long = 21600L): DataFrame =
    stagedJoinChunks(spark, dir, windowSec).fold(graft.Tables.empty(spark,
      "c_id BIGINT, user_id BIGINT, c_ts_us BIGINT")) { case (src, _) =>
      replay(spark, "qs18")(
        clicksJoinPurchases(spark, src, windowSec, "left_semi"))
        .where(col("c_user") >= 0) // drop the sentinel's own semi row
        .select(col("c_id"), col("c_user").as("user_id"),
          unix_micros(col("c_ts")).as("c_ts_us"))
        .orderBy("c_id")
    }

  /** The FULL OUTER stream-stream interval join — both null-emission
    * directions (qs8 inner: neither; qs9 left: unmatched clicks only;
    * this: unmatched clicks AND unmatched purchases, each emitted
    * exactly once when the watermark proves no in-window partner can
    * arrive). Same staging/sentinel discipline as qs9; the batch FULL
    * JOIN over pre-filtered type slices oracles the emitted set
    * (declared as `qs11_stream_full_outer`). */
  def streamStreamFullOuterReplay(spark: SparkSession, dir: String,
                                  windowSec: Long = 21600L): DataFrame =
    stagedJoinChunks(spark, dir, windowSec).fold(
      graft.Tables.empty(spark, JoinPairDdl)) { case (src, _) =>
      replay(spark, "qs11")(
        clicksJoinPurchases(spark, src, windowSec, "full_outer"))
        .where(coalesce(col("c_user"), col("p_user")) >= 0) // no sentinels
        .select(col("c_id"), col("p_id"),
          coalesce(col("c_user"), col("p_user")).as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("dt_us"))
        .orderBy(asc_nulls_first("c_id"), asc_nulls_first("p_id"))
    }

  // ONE staged input for the watermarked-window replays (qs3 tumbling /
  // qs19 AvailableNow / qs10 sliding / qs17 re-window, and qs26/qs29) —
  // the content is identical: events in global (ts, event_id) order, 3
  // chunks, one far-future "__sentinel__" row 3 days past the last event
  // (beyond every window's end + the 1h delay on every grid any of them
  // uses). The staged sentinel bounds the output filters.
  private def stagedWindowChunks(spark: SparkSession, dir: String)
      : Option[(String, Timestamp)] = {
    import spark.implicits._
    Stage("qs3-replay", dir) { d =>
      val ev = sortedEvents(spark, dir)
      Option.when(ev.nonEmpty) {
        val sentTs =
          new Timestamp((micros(ev.last.ts) / 1000L) + 3L * 86400_000L)
        val sentinel =
          WEvent(-1L, sentTs, Long.MaxValue, "__sentinel__", 0.0)
        (writeChunks(spark, thirds(ev, Seq(sentinel)), d), sentTs)
      }
    }
  }

  private[streaming] case class WEvent(user_id: Long, ts: Timestamp,
                                       event_id: Long,
                                       event_type: String, value: Double)

  private val DayTypeDdl =
    "day TIMESTAMP, event_type STRING, n BIGINT, v_milli BIGINT"

  /** The qs3 day-window aggregate over the staged chunks in `src`: per
    * (day window `w`, event_type), the count and integer-ized value sum,
    * watermarked at `delay`. */
  private def dayWindows(spark: SparkSession, src: String,
                         perTrigger: Int = 2,
                         delay: String = "1 hour"): DataFrame =
    files[WEvent](spark, src, perTrigger)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000)).as("v_milli"))

  /** The finalized real day windows of a [[dayWindows]] replay, in the
    * oracle's `date_trunc('day')` shape. */
  private def realDays(sunk: DataFrame, sentinelTs: Timestamp): DataFrame =
    sunk
      .where(col("event_type") =!= "__sentinel__" &&
        col("w.start") < lit(sentinelTs))
      .select(col("w.start").as("day"), col("event_type"),
        col("n"), col("v_milli"))
      .orderBy("day", "event_type")

  /** Replay events(dir) through Structured Streaming's WATERMARKED
    * TUMBLING-WINDOW aggregation — the bread-and-butter streaming
    * operator (readStream → withWatermark → groupBy(window(...)) → agg →
    * Append) that qs1/qs2's custom-state paths don't exercise — and
    * return the finalized windows as a batch frame in the oracle's
    * `date_trunc('day')` shape (declared as `qs3_stream_window`).
    *
    * Determinism: the aggregate itself commutes (counts + an integer sum
    * — `floor(value*1000)` so no float-order sensitivity), so chunking
    * only affects WHEN windows finalize, never their content. A single
    * far-future sentinel row in the last chunk drives the watermark past
    * every real window's end, so Append emits the total set; the
    * sentinel's own window stays open in state and is filtered
    * defensively. Emission relies on Spark running a follow-on
    * micro-batch when a data batch advances the watermark (the standard
    * state-eviction batch). */
  def windowedAggReplay(spark: SparkSession, dir: String): DataFrame =
    stagedWindowChunks(spark, dir).fold(
      graft.Tables.empty(spark, DayTypeDdl)) { case (src, sentinelTs) =>
      realDays(replay(spark, "qs3")(dayWindows(spark, src)), sentinelTs)
    }

  /** Replay events(dir) through the streaming parquet FILE SINK — the
    * production lake-ingest job (readStream → stateless transform →
    * `writeStream.format("parquet")`) and the exactly-once story the
    * memory-sink rows can't check: the sink commits each micro-batch by
    * appending to the `_spark_metadata` manifest, and a BATCH read of
    * the sink directory trusts the MANIFEST, never the listing. After
    * the run the replay plants a DECOY part file (the orphan a crashed
    * task attempt leaves behind) in the output dir; a read-back that
    * honored the listing would count the decoy's rows and hash-fail —
    * so the oracle gate covers both the sink's delivery (every purchase
    * row exactly once across 3 micro-batches) and the manifest's abort
    * invisibility (declared as `qs26_file_sink`). */
  def fileSinkReplay(spark: SparkSession, dir: String): DataFrame =
    Stage("qs26-sink", dir) { out =>
      stagedWindowChunks(spark, dir).map { case (src, _) =>
        replay(spark, "qs26", confs = Nil,
            sink = Some(_.format("parquet").option("path", out))) {
          files[WEvent](spark, src, perTrigger = 1)
            .where(col("event_type") === "purchase") // drops sentinel too
            .select(col("user_id"), col("event_id"),
              floor(col("value") * 1000).cast("long").as("v_milli"))
        }
        // the decoy: schema-identical rows under a part-file name the
        // listing would pick up — only the manifest keeps it invisible
        val decoyTmp = Stage.scratch("qs26-decoy").toString
        spark.range(1).select(lit(-999L).as("user_id"),
          lit(-1L).as("event_id"), lit(1000000L).as("v_milli"))
          .coalesce(1).write.mode("overwrite").parquet(decoyTmp)
        java.nio.file.Files.move(partFiles(decoyTmp).head.toPath,
          java.nio.file.Paths.get(out, "part-00042-decoy-c000.snappy.parquet"))
        out
      }
    }.fold(graft.Tables.empty(spark,
      "user_id BIGINT, n BIGINT, v_milli BIGINT")) { outDir =>
      spark.read.parquet(outDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("v_milli").as("v_milli"))
        .orderBy("user_id")
    }

  /** The qs27/qs29 shared envelope staging: one v2-written line file
    * set per dir. */
  private def stagedEnvelopeDir(spark: SparkSession, dir: String)
      : String =
    Stage.dir("qs27-envelope", dir) { d =>
      import graft.meos.{Assembly, NativeExpressions}
      val asm = Assembly.tpointAssemble()
      val trips = graft.Tables.events(spark, dir)
        .withColumn("y", length(col("props")).cast("double"))
        .groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
          col("y")).as("st"))
        .select(col("user_id").as("id"), lit(1).as("vt"),
          NativeExpressions.tgeompointAsHexWkb(
            Assembly.tpointVal(col("st"))).as("json"))
      trips.write.format("trip-envelope").mode("overwrite").save(d)
    }

  /** Stream-read the DSv2 trip envelope — the connector's THIRD
    * direction (q57 gates batch write → batch read; this row gates
    * batch write → STREAMING read): trips assembled from events(dir)
    * land as sink-committed line files, then
    * `readStream.format("trip-envelope")` drains them under
    * `maxFilesPerBatch=3` (several micro-batches, the rate-limited
    * cold-start path), each envelope decoded back through the WKB codec
    * in-stream. The emitted set must equal the batch q57 rollup — an
    * envelope line delivered zero or two times hash-fails (declared as
    * `qs27_envelope_stream`). */
  def envelopeStreamReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.meos.{MeosFunctions, NativeExpressions}
    val staged = stagedEnvelopeDir(spark, dir)
    replay(spark, "qs27", confs = Nil) {
      spark.readStream.format("trip-envelope")
        .option("maxFilesPerBatch", "3")
        .load(staged)
        .select(col("id").as("user_id"),
          NativeExpressions.tgeompointFromHexWkb(col("json")).as("trip"))
        .select(col("user_id"),
          MeosFunctions.tgeompointNumInstants(col("trip"))
            .cast("long").as("n"),
          unix_micros(MeosFunctions.tgeompointStartTs(col("trip")))
            .as("t0_us"))
    }.orderBy("user_id")
  }

  /** qs29: STREAM-STATIC join with the DSv2 ENVELOPE as the static
    * side — the capability interplay no other arm runs: inside each
    * micro-batch's plan, the static side is a full v2 scan of the
    * envelope table with COLUMN PRUNING and a PUSHED id filter
    * (`id < 120` reaches the connector's reader, which head-walks
    * non-matching lines), joined stateless to the replayed event
    * stream. The emitted set equals the batch join — per (matched)
    * user, event count and the trip's instant count — so the SQL join
    * twin oracles both the delivery and the in-stream v2 read.
    * Sentinel rows (user_id −1) can't match any envelope id and drop
    * in the join. */
  def envelopeStaticEnrichReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.meos.{MeosFunctions, NativeExpressions}
    stagedWindowChunks(spark, dir).fold(graft.Tables.empty(spark,
      "user_id BIGINT, n_ev BIGINT, n_inst BIGINT")) { case (src, _) =>
      val stat = spark.read.format("trip-envelope")
        .load(stagedEnvelopeDir(spark, dir))
        .where(col("id") < 120L) // pushed into the v2 reader
        .select(col("id"),
          MeosFunctions.tgeompointNumInstants(
            NativeExpressions.tgeompointFromHexWkb(col("json")))
            .cast("long").as("n_inst"))
      replay(spark, "qs29") {
        files[WEvent](spark, src)
          .select(col("user_id"), col("event_id"))
          .join(stat, col("user_id") === col("id")) // stateless enrich
          .select(col("user_id"), col("event_id"), col("n_inst"))
      }.groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"), max("n_inst").as("n_inst"))
        .orderBy("user_id")
    }
  }

  /** Replay events(dir) as TWO independent file streams (split by
    * event_id parity, each tagged with its origin) UNIONED before one
    * watermarked tumbling-window aggregation — the multi-source
    * ingestion shape (N kafka topics / N landing prefixes feeding one
    * pipeline) that no other qs row exercises: the watermark node sits
    * DOWNSTREAM of the union, so finalization is driven by event time
    * seen across BOTH sources. Each source carries its own copy of the
    * far-future sentinel — in production the union watermark only
    * advances with the slowest source, so a quiet source must still
    * emit heartbeats; staging models exactly that. Aggregate commutes
    * (counts), so chunk interleaving across sources can't change the
    * emitted set (declared as `qs20_stream_union`). */
  def streamUnionReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Stage("qs20-replay", dir) { d =>
      val ev = sortedEvents(spark, dir)
      Option.when(ev.nonEmpty) {
        val sentTs =
          new Timestamp((micros(ev.last.ts) / 1000L) + 3L * 86400_000L)
        val sentinel =
          WEvent(-1L, sentTs, Long.MaxValue, "__sentinel__", 0.0)
        def staged(side: Array[WEvent], sub: String): String = {
          val k = math.max(side.length / 2, 1)
          val dst = java.nio.file.Files.createDirectory(
            java.nio.file.Paths.get(d, sub)).toString
          writeChunks(spark, Seq(side.slice(0, k).toSeq,
            (side.drop(k) :+ sentinel).toSeq).filter(_.nonEmpty), dst)
        }
        (staged(ev.filter(_.event_id % 2 == 0), "a"),
          staged(ev.filter(_.event_id % 2 != 0), "b"), sentTs)
      }
    }.fold(graft.Tables.empty(spark, "day TIMESTAMP, src STRING, n BIGINT")) {
      case (dirA, dirB, sentinelTs) =>
        def source(d: String, tag: String) =
          files[WEvent](spark, d).withColumn("src", lit(tag))
        replay(spark, "qs20") {
          source(dirA, "a").unionByName(source(dirB, "b"))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 day").as("w"), col("src"))
            .agg(count(lit(1)).as("n"))
        }
          .where(col("w.start") < lit(sentinelTs))
          .select(col("w.start").as("day"), col("src"), col("n"))
          .orderBy("day", "src")
    }
  }

  /** The per-event_type count and integer-ized value sum over the staged
    * chunks in `src` — qs21/qs22's stateful aggregate. */
  private def typeTotals(spark: SparkSession, src: String): DataFrame =
    files[WEvent](spark, src)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("v_milli"))

  /** Replay events(dir) through a COMPLETE-output-mode streaming
    * top-k — the third and last output mode (qs1–qs20 are all Append;
    * Update's per-trigger deltas are chunk-timing-dependent by
    * construction, but Complete's FINAL table is not): the engine
    * re-emits the whole aggregate every trigger and the memory sink
    * REPLACES its table, so after the last micro-batch the sunk table
    * is exactly the aggregation over the entire input — which also
    * makes this the one lawful home of streaming ORDER BY + LIMIT
    * (Append mode rejects sorts; Complete re-sorts the full state each
    * trigger). No watermark and no sentinel: Complete mode keeps all
    * state and never finalizes, so the replay needs neither. The
    * (n desc, event_type) sort makes the LIMIT deterministic under
    * ties. Declared as `qs21_complete_topk`; a plain batch
    * GROUP BY + ORDER BY + LIMIT is the twin. */
  def completeTopkReplay(spark: SparkSession, dir: String): DataFrame =
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "event_type STRING, n BIGINT, v_milli BIGINT")) { src =>
      replay(spark, "qs21", OutputMode.Complete()) {
        typeTotals(spark, src)
          .orderBy(col("n").desc, col("event_type"))
          .limit(3)
      }.orderBy(col("n").desc, col("event_type"))
    }

  /** UPDATE output mode — the third and last mode under the hash gate
    * (qs1-qs20 are Append, qs21 is Complete): the memory sink receives
    * one row per CHANGED key per trigger, so the sunk table holds each
    * event_type's update HISTORY. The gate exploits monotonicity: a
    * key's count only grows, so its final state is exactly the row
    * with the per-key MAX n — which must equal the batch aggregate for
    * any chunking (a chunking that lost state or re-emitted a stale
    * row would surface a duplicate or non-maximal n and hash-fail).
    * State is keyed by the closed event_type vocabulary — bounded by
    * construction, no watermark needed. Shares qs21's staged chunks
    * (identical source discipline). Declared as `qs22_update_mode`. */
  def updateModeReplay(spark: SparkSession, dir: String): DataFrame =
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "event_type STRING, n BIGINT, v_milli BIGINT")) { src =>
      val w = Window.partitionBy("event_type").orderBy(col("n").desc)
      replay(spark, "qs22", OutputMode.Update())(typeTotals(spark, src))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("event_type"), col("n"), col("v_milli"))
        .orderBy("event_type")
    }

  /** Replay events(dir) through a SLIDING-window aggregation — 1-hour
    * windows advancing every 15 minutes, so each event lands in exactly
    * 4 overlapping windows (qs3 covers the tumbling case where
    * slide = duration; the overlap replication is the engine path this
    * adds). Same watermark/sentinel finalization discipline as qs3;
    * the aggregate commutes (count + integer-ized sum), so chunking
    * affects only when windows emit, never their content. Declared as
    * `qs10_sliding_window`; the twin replicates each event to its 4
    * epoch-grid window starts and GROUPs — Spark's slide assignment is
    * the same floor-to-grid arithmetic. */
  def slidingWindowReplay(spark: SparkSession, dir: String): DataFrame =
    stagedWindowChunks(spark, dir).fold(graft.Tables.empty(spark,
      "wstart TIMESTAMP, event_type STRING, n BIGINT, v_milli BIGINT")) {
      case (src, sentinelTs) =>
        replay(spark, "qs10") {
          files[WEvent](spark, src)
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
              col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(floor(col("value") * 1000)).as("v_milli"))
        }
          .where(col("event_type") =!= "__sentinel__" &&
            col("w.start") < lit(sentinelTs))
          .select(col("w.start").as("wstart"), col("event_type"),
            col("n"), col("v_milli"))
          .orderBy("wstart", "event_type")
    }

  /** The qs3 windowed aggregation under `Trigger.AvailableNow` — the
    * batch-drain trigger a production backfill uses ("process everything
    * that exists, respecting maxFilesPerTrigger, then STOP"): the query
    * plans its own micro-batch sequence and terminates itself, where the
    * other replays' runner drains an always-on trigger externally. Same staged chunks, watermark, sentinel, and oracle
    * shape as qs3 — the emitted set must be identical through the
    * different trigger machinery (declared as `qs19_available_now`). */
  def availableNowReplay(spark: SparkSession, dir: String): DataFrame =
    // qs3's staging (shared: whichever of qs3/qs19/qs10/qs17 runs first
    // stages the chunks, the others reuse them)
    stagedWindowChunks(spark, dir).fold(
      graft.Tables.empty(spark, DayTypeDdl)) { case (src, sentinelTs) =>
      realDays(replay(spark, "qs19", availableNow = true)(
        dayWindows(spark, src)), sentinelTs)
    }

  /** Replay events(dir) through HIERARCHICAL window re-windowing — the
    * Spark 3.4+ chained-time-window path (`window(window_col, "1 day")`
    * over a finalized hourly aggregation) that qs5's same-window second
    * rollup doesn't touch: here the second stateful operator re-assigns
    * each hour cell to a COARSER day window, the shape a streaming
    * dashboard uses for hour→day→week rollups without re-reading the
    * source. Both aggregates commute (counts + integer-ized sums), and
    * the outer consumes only FINALIZED inner cells, so the emitted set
    * is chunk-independent; the qs3 sentinel discipline finalizes both
    * tiers (the sentinel's own hour cell never finalizes — the
    * watermark stops 1h short of it — so it cannot leak downstream).
    * Declared as `qs17_rewindow_rollup`. */
  def rewindowRollupReplay(spark: SparkSession, dir: String): DataFrame =
    stagedWindowChunks(spark, dir).fold(graft.Tables.empty(spark,
      "day TIMESTAMP, n_cells BIGINT, n_events BIGINT, " +
        "v_milli BIGINT, max_cell BIGINT")) { case (src, sentinelTs) =>
      replay(spark, "qs17") {
        files[WEvent](spark, src)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w1"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000)).as("vm"))
          .groupBy(window(col("w1"), "1 day").as("w2"))
          .agg(count(lit(1)).as("n_cells"), sum("n").as("n_events"),
            sum("vm").as("v_milli"), max("n").as("max_cell"))
      }
        .where(col("w2.start") < lit(sentinelTs))
        .select(col("w2.start").as("day"), col("n_cells"),
          col("n_events"), col("v_milli"), col("max_cell"))
        .orderBy("day")
    }

  /** Stage events(dir) as three event-time-ordered chunks with NO
    * sentinels — shared by the replays that close state by rollup or
    * keep it all, not by watermark: the transformWithState replays
    * (qs12/qs13/qs14 and the idle-session spec harness) and the
    * complete/update-mode replays (qs21/qs22).
    * None on an empty table (the caller returns its own empty frame). */
  private def stagedPlainChunks(spark: SparkSession, dir: String)
      : Option[String] = {
    import spark.implicits._
    Stage("plain-replay", dir) { d =>
      val ev = sortedEvents(spark, dir)
      Option.when(ev.nonEmpty)(writeChunks(spark, thirds(ev), d))
    }
  }

  /** Replay events(dir) through the Spark 4 `transformWithState` API —
    * the arbitrary-stateful-processing surface that supersedes
    * (flat)mapGroupsWithState: a `StatefulProcessor` holding a
    * `ValueState[Long]` per user, emitting the running event count in
    * Update mode (declared as `qs12_transform_with_state`).
    * transformWithState requires the RocksDB state store, so the replay
    * also exercises that provider (scoped, restored after the run).
    *
    * Determinism: the running count is MONOTONE per key whatever the
    * chunking, so while Update mode emits one intermediate row per
    * (micro-batch, active user), the per-user MAX over all updates
    * equals the batch `count(*)` exactly — that rollup is the oracled
    * frame, and it is chunk-count independent. */
  def transformWithStateReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "user_id BIGINT, n_events BIGINT")) { src =>
      replay(spark, "qs12", OutputMode.Update(), RocksDBConfs) {
        files[WEvent](spark, src).as[WEvent].groupByKey(_.user_id)
          .transformWithState(new RunningCountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "n_running")
      }.groupBy("user_id")
        .agg(max("n_running").as("n_events"))
        .orderBy("user_id")
    }
  }

  /** qs25: transformWithState bootstrapped from INITIAL STATE — the
    * store-migration path (seed per-key state from a batch snapshot,
    * then stream only the delta). The first half of the time-ordered
    * events becomes per-user seed counts handed to the query as a
    * `KeyValueGroupedDataset` initial state; the second half replays
    * as micro-batches. The per-user MAX running count equals the FULL
    * batch count (both halves) if and only if `handleInitialState`
    * actually seeded the RocksDB store — a dropped or double-applied
    * seed hash-fails against the twin, which recomputes the same
    * deterministic (ts, event_id) split in SQL. Output covers users
    * with at least one streamed event (seed-only keys never emit —
    * the API contract; the twin restricts identically). */
  def transformWithInitialStateReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    // staged as (seed counts, stream chunk dir)
    Stage("qs25-replay", dir) { d =>
      val ev = sortedEvents(spark, dir)
      Option.when(ev.nonEmpty) {
        val k = ev.length / 2
        val seed = ev.take(k).groupBy(_.user_id)
          .map { case (u, rows) => (u, rows.length.toLong) }.toSeq
        val rest = ev.drop(k)
        val c = math.max(rest.length / 2, 1)
        val chunks = Seq(rest.slice(0, c).toSeq, rest.drop(c).toSeq)
          .filter(_.nonEmpty)
        (seed, writeChunks(spark, chunks, d))
      }
    }.fold(graft.Tables.empty(spark, "user_id BIGINT, n_events BIGINT")) {
      case (seed, src) =>
        val init = spark.createDataset(seed).groupByKey(_._1).mapValues(_._2)
        replay(spark, "qs25", OutputMode.Update(), RocksDBConfs) {
          files[WEvent](spark, src).as[WEvent].groupByKey(_.user_id)
            .transformWithState(new SeededCountProcessor,
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update(), init)
            .toDF("user_id", "n_running")
        }.groupBy("user_id")
          .agg(max("n_running").as("n_events"))
          .orderBy("user_id")
    }
  }

  /** qs13: [[transformWithStateReplay]]'s harness with a MapState
    * processor — per-(user, event_type) running counters inside one
    * grouping key's state (the keyed-sub-state surface ValueState
    * doesn't touch). Same monotonicity argument: per-pair max over
    * Update emissions equals the batch GROUP BY count. Shares qs12's
    * staged chunks. */
  def transformWithStateMapReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "user_id BIGINT, event_type STRING, n_events BIGINT")) { src =>
      replay(spark, "qs13", OutputMode.Update(), RocksDBConfs) {
        files[WEvent](spark, src).as[WEvent].groupByKey(_.user_id)
          .transformWithState(new TypeCountProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "event_type", "n_running")
      }.groupBy("user_id", "event_type")
        .agg(max("n_running").as("n_events"))
        .orderBy("user_id", "event_type")
    }
  }

  /** qs14: [[transformWithStateReplay]]'s harness with the ListState
    * processor — the per-key last-3-event-id buffer. The row with the
    * highest running n per key carries the final buffer (n strictly
    * increases on every batch that touches the key), so a per-key
    * max_by collapse yields the state the batch last-3 SQL oracles.
    * Shares qs12/qs13's staged chunks. */
  def transformWithStateListReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "user_id BIGINT, n_events BIGINT, last3 STRING")) { src =>
      replay(spark, "qs14", OutputMode.Update(), RocksDBConfs) {
        files[WEvent](spark, src).as[WEvent].groupByKey(_.user_id)
          .transformWithState(new LastEventsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            OutputMode.Update())
          .toDF("user_id", "n_running", "ids")
      }.groupBy("user_id")
        .agg(max("n_running").as("n_events"),
          max_by(col("ids"), col("n_running")).as("last3"))
        .orderBy("user_id")
    }
  }

  /** Spec harness for [[IdleSessionProcessor]] (the event-time TIMER
    * surface of transformWithState): replay events(dir) in three
    * event-time-ordered chunks with a zero-delay watermark. No sentinel
    * is injected — the planted fixture carries its own far-future
    * closer row, whose watermark advance fires the armed timers
    * (Round9bSpec). */
  def idleSessionReplay(spark: SparkSession, dir: String,
                        gapSec: Long = 10L): DataFrame = {
    import spark.implicits._
    stagedPlainChunks(spark, dir).fold(graft.Tables.empty(spark,
      "user_id BIGINT, n_events BIGINT")) { src =>
      replay(spark, "tws_timer", confs = RocksDBConfs) {
        files[WEvent](spark, src, perTrigger = 1)
          .withWatermark("ts", "0 seconds")
          .as[WEvent].groupByKey(_.user_id)
          .transformWithState(
            new IdleSessionProcessor(gapSec * 1000L),
            org.apache.spark.sql.streaming.TimeMode.EventTime(),
            OutputMode.Append())
          .toDF("user_id", "n_events")
      }.orderBy("user_id")
    }
  }

  /** The event-time-TIMER surface under the HASH GATE (declared as
    * `qs15_tws_timers`) — the one streaming family that was spec-only in
    * round 9: replay events(dir) through [[GapSessionTimerProcessor]],
    * whose sessions close through BOTH paths the timer API exists for —
    * the in-batch gap rule (a later event > gap away closes the session
    * inline) and `handleExpiredTimer` (the watermark passes an armed
    * `lastSeen + gap` expiry with no further events). The emitted
    * session set equals q36's batch gap-split EXACTLY (GapSplitSql is
    * the oracle):
    *
    *  - chunks replay in global (event-time µs, event_id) order, so a
    *    batch-k event for a user always carries `ts >= ` the previous
    *    batches' max — the watermark can only have passed an armed
    *    expiry if the next event would split anyway (integer-second gap
    *    ⇒ the ms-truncated timer math can never fire before a µs-rule
    *    merge), making the output chunking-independent;
    *  - the per-(user, ts) dedup the q36 oracle applies is replicated
    *    in-processor (global order ⇒ an equal-ts row is always the
    *    later one: skipped);
    *  - ONE far-future sentinel row for a user that does not exist
    *    (user_id = -1) advances the global watermark past every armed
    *    expiry, so every TAIL session is emitted by the TIMER path —
    *    unlike qs1's per-user sentinels, which close tails via the gap
    *    rule; the sentinel user's own armed timer never fires and its
    *    state is simply discarded with the query. */
  def gapSessionTimerReplay(spark: SparkSession, dir: String,
                            gapSec: Long = 3600L): DataFrame = {
    import spark.implicits._
    // keyed (dir, gapSec): the sentinel margin encodes the gap (the qs9
    // cache lesson)
    Stage("qs15-replay", (dir, gapSec)) { d =>
      val ev = sortedEvents(spark, dir)
      Option.when(ev.nonEmpty) {
        val sentTs = new Timestamp(
          (micros(ev.last.ts) / 1000L) + (gapSec + 7200L) * 1000L)
        val sentinel = WEvent(-1L, sentTs, Long.MaxValue, "sentinel", 0.0)
        writeChunks(spark, thirds(ev) :+ Seq(sentinel), d)
      }
    }.fold(graft.Tables.empty(spark, "user_id BIGINT, seg BIGINT, " +
      "n BIGINT, t0_us BIGINT, t1_us BIGINT, xmin DOUBLE, xmax DOUBLE")) {
      src =>
        // q36's output shape: seg = 0-based per-user rank by session start
        val w = Window.partitionBy("user_id").orderBy("t0_us")
        replay(spark, "qs15", confs = RocksDBConfs) {
          files[WEvent](spark, src)
            .withWatermark("ts", "0 seconds")
            .as[WEvent].groupByKey(_.user_id)
            .transformWithState(
              new GapSessionTimerProcessor(gapSec * 1000L),
              org.apache.spark.sql.streaming.TimeMode.EventTime(),
              OutputMode.Append())
            .toDF("user_id", "n", "t0_us", "t1_us", "xmin", "xmax")
        }
          .where(col("user_id") >= 0) // defensive: the sentinel user
          .withColumn("seg", (row_number().over(w) - 1).cast("long"))
          .select(col("user_id"), col("seg"), col("n"), col("t0_us"),
            col("t1_us"), col("xmin"), col("xmax"))
          .orderBy("user_id", "seg")
    }
  }

  case class FbEv(user_id: Long, us: Long)

  /** Replay events(dir) through `foreachBatch` driving a REAL keyed
    * MERGE upsert into embedded Derby — the most-used production sink
    * API, and the one streaming surface qs1–qs15 leave out (declared as
    * `qs16_stream_fb_upsert`). Each micro-batch pre-aggregates per user
    * and upserts through [[graft.sources.TripSink.jdbcBatchWrite]] (the
    * S4 connection-per-partition writer; on a cluster the URL would be
    * a remote DB — the in-memory Derby is the sandbox stand-in, same as
    * TripSinkJdbcSpec). The merged columns (n sums, tmin/tmax
    * least/greatest) are associative AND commutative, so the final
    * table is provably chunking-independent — a plain batch GROUP BY
    * twins it. The read-back of the |keys|-bounded aggregate table is
    * the verification harness step, not the production path. */
  def foreachBatchUpsertReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    Stage("qs16-replay", dir) { d =>
      // the qs1 global replay order
      val evs = sortedEvents(spark, dir).map(e => FbEv(e.user_id, micros(e.ts)))
      Option.when(evs.nonEmpty)(writeChunks(spark, thirds(evs), d))
    }.fold(graft.Tables.empty(spark,
      "user_id BIGINT, n BIGINT, tmin_us BIGINT, tmax_us BIGINT")) { src =>
      // fresh in-memory Derby per run — bench re-runs must not accumulate
      val url = s"jdbc:derby:memory:qs16_${runSeq.incrementAndGet()}"
      System.setProperty("derby.stream.error.file", "/tmp/derby.log")
      val setup = java.sql.DriverManager.getConnection(s"$url;create=true")
      try setup.createStatement().executeUpdate(
        "CREATE TABLE agg (user_id BIGINT PRIMARY KEY, n BIGINT, " +
          "tmin_us BIGINT, tmax_us BIGINT)")
      finally setup.close()

      val mergeSql =
        """MERGE INTO agg USING SYSIBM.SYSDUMMY1
          |ON agg.user_id = CAST(? AS BIGINT)
          |WHEN MATCHED THEN UPDATE SET
          |  n = agg.n + CAST(? AS BIGINT),
          |  tmin_us = CASE WHEN CAST(? AS BIGINT) < agg.tmin_us
          |    THEN CAST(? AS BIGINT) ELSE agg.tmin_us END,
          |  tmax_us = CASE WHEN CAST(? AS BIGINT) > agg.tmax_us
          |    THEN CAST(? AS BIGINT) ELSE agg.tmax_us END
          |WHEN NOT MATCHED THEN INSERT (user_id, n, tmin_us, tmax_us)
          |  VALUES (?, ?, ?, ?)""".stripMargin
      replay(spark, "qs16", confs = Nil, sink = Some(_.foreachBatch {
        (batch: DataFrame, _: Long) =>
          // per-batch per-key rollup: partitions carry DISJOINT keys, so
          // concurrent MERGE connections never collide on a fresh insert
          val rolled = batch.groupBy("user_id").agg(
            count(lit(1)).as("bn"), min("us").as("btmin"),
            max("us").as("btmax"))
          graft.sources.TripSink.jdbcBatchWrite(rolled, mergeSql,
            batchSize = 256,
            () => java.sql.DriverManager.getConnection(url)) { (ps, r) =>
            ps.setLong(1, r.getLong(0))
            ps.setLong(2, r.getLong(1))
            ps.setLong(3, r.getLong(2)); ps.setLong(4, r.getLong(2))
            ps.setLong(5, r.getLong(3)); ps.setLong(6, r.getLong(3))
            ps.setLong(7, r.getLong(0)); ps.setLong(8, r.getLong(1))
            ps.setLong(9, r.getLong(2)); ps.setLong(10, r.getLong(3))
          }
      }))(files[FbEv](spark, src))

      // harness read-back (|keys|-bounded), then drop the in-memory db
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)]
      val rc = java.sql.DriverManager.getConnection(url)
      try {
        val rs = rc.createStatement()
          .executeQuery("SELECT user_id, n, tmin_us, tmax_us FROM agg")
        while (rs.next()) out += ((rs.getLong(1), rs.getLong(2),
          rs.getLong(3), rs.getLong(4)))
      } finally rc.close()
      try java.sql.DriverManager.getConnection(s"$url;drop=true")
      catch { case _: java.sql.SQLException => () } // success signals via 08006

      out.toSeq.toDF("user_id", "n", "tmin_us", "tmax_us")
        .orderBy("user_id")
    }
  }

  /** The stream-stream RIGHT OUTER interval join — the last arm of the
    * null-emission matrix (qs8 inner, qs9 left, qs18 semi, qs11 full):
    * an unmatched PURCHASE is held in join state until the watermark
    * proves no in-window click can still arrive, then emits once with a
    * null click side. Same shared staging and sentinel discipline as
    * qs9 (mirrored); the batch RIGHT JOIN oracles the emitted set
    * (declared as `qs24_stream_right_outer`). */
  def streamStreamRightOuterReplay(spark: SparkSession, dir: String,
                                   windowSec: Long = 21600L): DataFrame =
    stagedJoinChunks(spark, dir, windowSec).fold(
      graft.Tables.empty(spark, JoinPairDdl)) { case (src, _) =>
      replay(spark, "qs24")(
        clicksJoinPurchases(spark, src, windowSec, "right_outer"))
        .where(col("p_user") >= 0) // drop the sentinel's own outer row
        .select(col("c_id"), col("p_id"), col("p_user").as("user_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("dt_us"))
        .orderBy(asc_nulls_first("c_id"), col("p_id"))
    }

  /** qs23: the PRODUCTION ingest staging path — source files written by
    * a DISTRIBUTED parquet write, with NO driver collect anywhere
    * between the source table and the streaming query. Every other qs
    * replay stages via collect+writeChunks, which the scaladocs document
    * as oracle scaffolding (deterministic micro-batch ORDER needs the
    * rows in hand); this row demonstrates the path a deployment actually
    * runs and shows why order wasn't semantics: the events table is
    * written executor-side as N part files all stamped one mod-time,
    * plus a single later-stamped sentinel file, so the file source
    * drains the data files in ARBITRARY batches before the sentinel.
    * Exactness without ordered chunks: the 365-day watermark delay means
    * no intermediate batch can finalize a window or drop a row (the qs8
    * posture), the day-window aggregate commutes, and the sentinel —
    * placed past every event + the delay + the window — drives the one
    * finalization batch. The emitted set is qs3's oracle shape, a pure
    * function of the table. */
  def distributedIngestReplay(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    Stage("qs23-replay", dir) { d =>
      val ev = graft.Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      Option.when(!ev.isEmpty) {
        // one-row BOUND agg (not data staging): the sentinel must clear
        // every real event + the 365-day delay + the day-window end
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentTs = new Timestamp(maxUs / 1000L + 367L * 86400_000L)
        val dataTmp = Stage.scratch("qs23-data").toString
        ev.as[WEvent].write.mode("overwrite").parquet(dataTmp)
        val sentTmp = Stage.scratch("qs23-sent").toString
        Seq(WEvent(-1L, sentTs, Long.MaxValue, "__sentinel__", 0.0))
          .toDS().coalesce(1).write.mode("overwrite").parquet(sentTmp)
        val base = System.currentTimeMillis()
        // adopt the part files into the source dir (driver-side FILE
        // MOVES — metadata only, no row ever passes through the driver)
        def adopt(tmp: String, mtime: Long, tag: String): Unit =
          partFiles(tmp).zipWithIndex.foreach { case (part, i) =>
            val dst = new java.io.File(d, f"$tag$i%04d.parquet")
            java.nio.file.Files.move(part.toPath, dst.toPath)
            dst.setLastModified(mtime)
          }
        adopt(dataTmp, base, "data")
        adopt(sentTmp, base + 10000L, "sent")
        (d, sentTs)
      }
    }.fold(graft.Tables.empty(spark, DayTypeDdl)) { case (src, sentinelTs) =>
      realDays(replay(spark, "qs23")(
        dayWindows(spark, src, perTrigger = 8, delay = "365 days")),
        sentinelTs)
    }
  }
}

/** Event-time-TIMER session closer on transformWithState — the timer
  * surface (registerTimer/deleteTimer/handleExpiredTimer under
  * TimeMode.EventTime) that qs12/qs13 don't touch: counts a user's
  * events and registers an event-time timer at lastSeen + gap,
  * re-arming (delete + register) on every new batch; when the watermark
  * passes the armed expiry, handleExpiredTimer emits (user, count) once
  * and clears state. Spec-covered (Round9bSpec planted replay) rather
  * than oracled: WHAT fires is deterministic, but event-time timers
  * only fire when a later batch advances the watermark, so a tail
  * session needs a sentinel to close — same discipline as qs1. */
class IdleSessionProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamingReplay.WEvent, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, ValueState}

  @transient private var count: ValueState[Long] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    var n = if (count.exists()) count.get() else 0L
    var lastMs = 0L
    rows.foreach { e =>
      n += 1
      val ms = e.ts.getTime
      if (ms > lastMs) lastMs = ms
    }
    count.update(n)
    if (armed.exists()) getHandle.deleteTimer(armed.get())
    val expiry = lastMs + gapMs
    getHandle.registerTimer(expiry)
    armed.update(expiry)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long)] = {
    val n = if (count.exists()) count.get() else 0L
    count.clear(); armed.clear()
    if (n > 0) Iterator.single((key, n)) else Iterator.empty
  }
}

/** The open gap-session accumulator [[GapSessionTimerProcessor]] keeps
  * per user: running count, start/last event-time micros, value min/max
  * — exactly the per-segment stats q36's rollup reports. */
case class OpenGapSession(n: Long, t0Us: Long, t1Us: Long,
                          xmin: Double, xmax: Double)

/** Event-time-timer gap-session splitter — the system under test for
  * qs15 (the timer surface, HASH-GATED against q36's batch gap-split):
  * maintains one open session per user and closes it through both paths
  *
  *  - IN-BATCH: a row `>= gap` after the open session's last event
  *    closes it inline (emitted from handleInputRows) and opens a new
  *    one — the dominant path mid-stream;
  *  - TIMER: every batch re-arms (deleteTimer + registerTimer) an
  *    event-time timer at `lastSeen + gap`; when the watermark finally
  *    passes an armed expiry with no intervening event,
  *    handleExpiredTimer emits the session ONCE and clears state — the
  *    only path that can close a TAIL session, which is what the timer
  *    API exists for.
  *
  * Oracle-parity details: rows are re-sorted by (µs, event_id) in each
  * batch and per-(user, ts) duplicates are skipped (an equal-µs row is
  * never first in global replay order, so the kept row is the min
  * event_id — the q36 oracle's rn=1 rule); the split rule is µs-exact
  * (`us - t1 >= gap·1e6`), and the ms-truncated timer can never fire
  * before a µs-rule merge (integer-second gap: floor((t1+gap)/ms) is
  * exactly t1_ms + gap_ms, and the watermark reaching that implies the
  * next event splits anyway). */
class GapSessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamingReplay.WEvent,
      (Long, Long, Long, Long, Double, Double)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, ValueState}

  @transient private var open: ValueState[OpenGapSession] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    open = getHandle.getValueState[OpenGapSession]("open",
      org.apache.spark.sql.Encoders.product[OpenGapSession], TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Long, Double, Double)] = {
    val gapUs = gapMs * 1000L
    val sorted = rows.toSeq.sortBy(e => (Times.micros(e.ts), e.event_id))
    val closed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Double, Double)]
    var cur: OpenGapSession = if (open.exists()) open.get() else null
    sorted.foreach { e =>
      val us = Times.micros(e.ts)
      if (cur == null)
        cur = OpenGapSession(1L, us, us, e.value, e.value)
      else if (us == cur.t1Us)
        () // per-(user, ts) dedup — the min-event_id row already counted
      else if (us - cur.t1Us >= gapUs) {
        closed += ((key, cur.n, cur.t0Us, cur.t1Us, cur.xmin, cur.xmax))
        cur = OpenGapSession(1L, us, us, e.value, e.value)
      } else
        cur = OpenGapSession(cur.n + 1, cur.t0Us, us,
          math.min(cur.xmin, e.value), math.max(cur.xmax, e.value))
    }
    if (cur != null) {
      open.update(cur)
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val expiry = cur.t1Us / 1000L + gapMs
      getHandle.registerTimer(expiry)
      armed.update(expiry)
    }
    closed.iterator
  }

  override def handleExpiredTimer(key: Long,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long, Double, Double)] = {
    val out =
      if (open.exists()) {
        val c = open.get()
        Iterator.single((key, c.n, c.t0Us, c.t1Us, c.xmin, c.xmax))
      } else Iterator.empty
    open.clear(); armed.clear()
    out
  }
}

/** Bounded last-3-event-id buffer on a transformWithState ListState —
  * the system under test for qs14 (qs12 ValueState, qs13 MapState; this
  * exercises the ordered-collection surface: get/clear/appendValue with
  * an explicit trim, the recent-history shape every "last N actions"
  * feature store keeps). Rows are re-sorted by (event-time micros,
  * event_id) inside each batch — the iterator arrives in partition
  * order — so the buffer's content is a pure function of the staged
  * chunk order; the emitted (key, running n, joined ids) row with the
  * highest n per key IS the final buffer, which the batch last-3 SQL
  * oracles exactly. */
class LastEventsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamingReplay.WEvent, (Long, Long, String)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, ListState, ValueState}

  @transient private var ids: ListState[Long] = _
  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    ids = getHandle.getListState[Long]("ids",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    n = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, String)] = {
    val sorted = rows.toSeq
      .sortBy(e => (Times.micros(e.ts), e.event_id))
    val all = (if (ids.exists()) ids.get().toSeq else Seq.empty[Long]) ++
      sorted.map(_.event_id)
    val keep = all.takeRight(3)
    ids.clear()
    keep.foreach(ids.appendValue)
    val total = (if (n.exists()) n.get() else 0L) + sorted.size
    n.update(total)
    Iterator.single((key, total, keep.mkString(",")))
  }
}

/** Per-(user, event_type) running counters on a transformWithState
  * MapState — the system under test for qs13 (qs12 covers ValueState;
  * this exercises the keyed-sub-state surface: getValue/updateValue per
  * map key inside one grouping key's state). Emits the updated types'
  * running counts each batch; counts are monotone per (user, type), so
  * the per-pair max equals the batch GROUP BY count. */
class TypeCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamingReplay.WEvent, (Long, String, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, MapState}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, String, Long)] = {
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { e =>
      val prev =
        if (counts.containsKey(e.event_type)) counts.getValue(e.event_type)
        else 0L
      counts.updateValue(e.event_type, prev + 1L)
      touched += e.event_type
    }
    touched.iterator.map(t => (key, t, counts.getValue(t)))
  }
}

/** qs25's processor: [[RunningCountProcessor]] with INITIAL STATE —
  * the snapshot-bootstrap path a production migration runs (seed the
  * store from a batch table, then stream the delta). handleInitialState
  * only SEEDS (no emission — exactly the API contract); the running
  * count thereafter includes the seed, so the per-user max equals the
  * full batch count if and only if the seed actually landed. */
class SeededCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, StreamingReplay.WEvent, (Long, Long), Long] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, TimerValues, ValueState}

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInitialState(key: Long, initialState: Long,
      timerValues: TimerValues): Unit =
    count.update(initialState)

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single((key, n))
  }
}

/** Per-user running event counter on the transformWithState API — the
  * system under test for qs12. ValueState survives across micro-batches
  * in the RocksDB store; the emitted running count is monotone per key,
  * which is what makes the replay oracle-checkable (see
  * [[StreamingReplay.transformWithStateReplay]]). */
class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamingReplay.WEvent, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode,
    TTLConfig, ValueState}

  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[StreamingReplay.WEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator.single((key, n))
  }
}
