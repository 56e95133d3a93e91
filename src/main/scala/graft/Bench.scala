package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingReplay

/** Benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Methodology (changed in round 2 — flagged in the JSON):
  *  - every query executes through the `noop` sink, not `.count()`:
  *    count lets Catalyst prune final projections nothing consumes (q04's
  *    format_string, qx4's simhash fold would be optimized away), so noop
  *    measures the declared computation;
  *  - per-query time is the MEDIAN OF 3 runs — first-execution
  *    planning/codegen dominates at this data size, and the median is
  *    stable run-to-run where a single shot is ±30%;
  *  - a short warmup (the cheapest query once) pays JIT/classload costs.
  * Queries run in sorted key order for run-to-run comparability.
  */
object Bench {
  /** Scale-adaptive AQE partition grain (guide §2 "make partitioning
    * scale-adaptive — derive from input size — rather than a constant
    * tuned for either local mode or the cluster"): AQE's bytes-based
    * post-shuffle coalescing assumes cost ∝ bytes, so at bench data
    * sizes (tiny shuffles of heavy-CPU rows — DECIMAL(38,0) segment
    * math, token kernels) it coalesces CPU-dense stages onto 1-2 tasks
    * and leaves 30 cores idle (measured: q109 3.1→1.1 s, qx81
    * 4.7→1.9 s under a finer grain). Deriving the advisory from
    * input-bytes/(2·cores) keeps ~2 waves of post-shuffle tasks per
    * core at ANY scale; the clamps mean a 100 TB input lands on the
    * guide §9 production value (256 MB) and a toy input never drops
    * below 512 KB. minPartitionSize scales at advisory/4, capped at its
    * 1 MB default.
    *
    * The 512 KB advisory floor (round 17; was 64 KB) is the VERDICT r16
    * #1 fix: at 32 cores and sf0.1 the un-floored advisory was 273 KB
    * with a 68 KB minPartitionSize, which stopped AQE from coalescing
    * the TINY shuffles of iterative/sweep queries — qz48's CC superstep
    * loop ran every superstep at ~15-30 sub-100KB tasks and regressed
    * 2.23→3.43 s against Spark-default grain while q109/qx81 (few
    * CPU-dense stages) improved. A post-shuffle partition below a few
    * hundred KB costs more to schedule than to process (guide §2.2
    * "fewer, larger reduce partitions"); the measured matrix (med3,
    * 32c, sf0.1 — adv:min · q109 · qz48 · qx83 · qz47):
    *   273K:68K (old)   · 1.80 · 3.43 · 1.41 · 1.65
    *   64M:1M (off)     · 3.47 · 2.23 ·  —   · 1.78
    *   1M:256K          · 1.58-1.71 · 2.42-2.84 · 2.06 · 1.64
    *   512K:128K (new)  · 1.56-1.66 · 2.60-2.64 · 1.77 · 1.47-1.64
    *   4M:1M            · 3.19 · 2.69 ·  —   · 1.71
    * — 512 KB keeps the fine-grain wins of the CPU-dense refines
    * (q109/qx81/qx83/qx61) AND recovers qz47/qz48 to at-or-under their
    * r15 32-core times (2.75/1.96). At 8 cores the derived value
    * (~1.09 MB) is unchanged by the floor, preserving the r16 8-core
    * window behavior. */
  def derivedAqeGrain(inputDir: String, cores: Int): (Long, Long) = {
    def dirBytes(d: java.io.File): Long =
      Option(d.listFiles()).map(_.map(f =>
        if (f.isDirectory) dirBytes(f) else f.length()).sum).getOrElse(0L)
    val in = dirBytes(new java.io.File(inputDir))
    val adv = math.min(math.max(in / (2L * math.max(cores, 1)),
      512L << 10), 256L << 20)
    (adv, math.min(adv / 4, 1L << 20))
  }

  /** The AQE grain `SPARK_GRAFT_AQE_GRAIN` asks for: `off` restores
    * Spark's defaults, `on` (the default) is `derived`, `adv:min` pins
    * explicit byte values (A/B levers for grain bisection). Split with
    * limit -1 (a plain split drops trailing empties); anything malformed,
    * including a value past Long.MaxValue, falls back to `derived` with a
    * stderr note instead of crashing at startup. */
  def aqeGrain(spec: String, derived: (Long, Long)): (Long, Long) =
    spec match {
      case "off" => ((64L << 20), (1L << 20))
      case "on" => derived
      case s =>
        val parsed = s.split(":", -1) match {
          case Array(a, m) if (a + m).forall(_.isDigit) =>
            for (av <- a.toLongOption; mv <- m.toLongOption) yield (av, mv)
          case _ => None
        }
        parsed.getOrElse {
          System.err.println(
            s"[bench] malformed SPARK_GRAFT_AQE_GRAIN '$s' — using derived")
          derived
        }
    }

  /** `s` as a JSON string literal. */
  private def jsonStr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // derived, not constant — see derivedAqeGrain and aqeGrain
    val (adv, minPart) =
      aqeGrain(sys.env.getOrElse("SPARK_GRAFT_AQE_GRAIN", "on"),
        derivedAqeGrain(sfDir, cpus.toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        adv.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        minPart.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // ContextCleaner reclaims finished queries' shuffle files and
      // broadcasts only when GC collects their driver-side handles; force
      // a periodic GC so a 123-query suite can't backlog cleanup state
      // (the round-7 suite-tail inflation)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Early-exit plans (collect-limit / take-ordered) can finish a query
    // while straggler tasks are still running; their late completions then
    // try to update SQL-metric accumulators that were unregistered with
    // the finished execution, and DAGScheduler logs a scary-but-benign
    // "attempted to access non-existent accumulator" ERROR + stack per
    // task. Results are unaffected (rc=0, all queries report). Silence
    // that one logger so the bench log stays clean; real query failures
    // still surface through the [bench] catch below.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.DAGScheduler",
      org.apache.logging.log4j.Level.FATAL)

    // ---- per-query diagnosis channel (stderr only; the round-8 verdict
    // showed recorded med3 times inflating 2-3.5× over isolated steady
    // state for SOME queries with no positional pattern — these counters
    // exist to attribute that to a mechanism instead of a shrug) --------
    import scala.jdk.CollectionConverters._
    val spillMem = new java.util.concurrent.atomic.AtomicLong()
    val spillDisk = new java.util.concurrent.atomic.AtomicLong()
    // peak single-stage execution memory + block-manager evictions
    // (VERDICT r14 #1b: per-query JVM telemetry INTO the sidecar, so a
    // selective driver-box inflation is adjudicable from data — GC
    // pressure, spill, eviction, or external contention each leave a
    // distinct signature)
    val peakExec = new java.util.concurrent.atomic.AtomicLong()
    val evictions = new java.util.concurrent.atomic.AtomicLong()
    // scan-side telemetry (VERDICT r15 #2 — make the qx81 cold-page-
    // cache theory testable from the sidecar): bytes READ per run (all
    // sources, incl. the per-dir parquet stagings) from task input
    // metrics, and the summed FileSourceScan "scan time" metric from
    // each executed plan — a run whose t inflates WITH scan_ms while
    // input_mb stays flat is re-reading the same bytes slower, the
    // cold-cache signature; flat scan_ms pins the inflation elsewhere.
    val inputBytes = new java.util.concurrent.atomic.AtomicLong()
    val scanMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          spillMem.addAndGet(sc.stageInfo.taskMetrics.memoryBytesSpilled)
          spillDisk.addAndGet(sc.stageInfo.taskMetrics.diskBytesSpilled)
          peakExec.getAndAccumulate(
            sc.stageInfo.taskMetrics.peakExecutionMemory, math.max)
          inputBytes.addAndGet(
            sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        }
        override def onBlockUpdated(
            bu: org.apache.spark.scheduler.SparkListenerBlockUpdated)
            : Unit = {
          // a cached block transitioning to no-storage while its RDD is
          // STILL REGISTERED as persistent is an EVICTION (memory
          // pressure pushed out a block the engine still wants). The
          // still-registered gate (ADVICE r15) filters unpersist bleed:
          // ContextCleaner/releaseAll deregister the RDD from
          // getPersistentRDDs BEFORE the async block removals land, so
          // a previous query's cleanup arriving inside the next timed
          // run no longer masquerades as block-manager pressure.
          // (Racy by nature — listener events are async — but the race
          // window only UNDER-counts cleanup noise, never real
          // evictions of a live cache.)
          val info = bu.blockUpdatedInfo
          if (!info.storageLevel.isValid && info.blockId.isRDD &&
              info.blockId.asRDDId.exists(r => spark.sparkContext
                .getPersistentRDDs.contains(r.rddId)))
            evictions.incrementAndGet()
          ()
        }
      })
    // summed "scan time" over every executed plan's file scans (AQE
    // stages included) — registered once; values drain into scanMs and
    // runOnce resets the counter per timed span. Listener delivery is
    // async (same coarse-read caveat as the stage listener above).
    // SPARK_GRAFT_SCANTEL=off drops it (A/B lever for harness-overhead
    // bisection).
    if (sys.env.getOrElse("SPARK_GRAFT_SCANTEL", "on") != "off")
      spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def walk(p: org.apache.spark.sql.execution.SparkPlan)
            : Unit = {
          p.metrics.get("scanTime").foreach(m => scanMs.addAndGet(m.value))
          p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => walk(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => walk(q.plan)
            case r: org.apache.spark.sql.execution.exchange
                .ReusedExchangeExec => walk(r.child)
            case _ => ()
          }
          p.children.foreach(walk)
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = walk(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val gcBeans =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcCumMs: Long = gcBeans.asScala.map(_.getCollectionTime).sum
    // this JVM's share of the machine during a run: on an otherwise idle
    // local[32] box a busy query should hold a high double-digit %, so a
    // run that reads slow WITH a collapsed cpuPct was contended by
    // something outside this process (the round-8 "tail inflation"
    // signature), while slow AND high-cpu means the query itself grew
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def procCpuNs: Long = osBean.getProcessCpuTime
    def codeCacheMb: Long =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("nmethods"))
        .map(_.getUsage.getUsed).sum >> 20
    def cachedState: (Int, Long) = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.length, infos.map(_.memSize).sum >> 20)
    }

    /** One timed run: (seconds, cpu%, gcMs, spillMemMB, spillDiskMB,
      * peakExecMB, evictions, …, status, staging events, streaming
      * micro-batches) — every counter
      * read BEFORE the harness-hygiene releaseAll so unpersists don't
      * masquerade as evictions. `status` is "ok" or "failed: <message>";
      * a failed run's `t` is its time to failure. */
    case class RunTel(t: Double, cpuPct: Double, gcMs: Long,
                      spillMemMb: Long, spillDiskMb: Long,
                      peakExecMb: Long, evicted: Long,
                      inputMb: Long, scanMs: Long, status: String,
                      staging: Seq[Stage.Event],
                      streaming: Seq[StreamingReplay.Batch])
    def runOnce(name: String): RunTel = {
      spillMem.set(0L); spillDisk.set(0L)
      peakExec.set(0L); evictions.set(0L)
      inputBytes.set(0L); scanMs.set(0L)
      Stage.drainEvents()
      StreamingReplay.drainBatches()
      val gc0 = gcCumMs
      val cpu0 = procCpuNs
      val t0 = System.nanoTime()
      val status =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          "ok"
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          s"failed: ${e.getMessage}"
        }
      val t = (System.nanoTime() - t0) / 1e9
      val cpuPct = (procCpuNs - cpu0) / 1e9 / math.max(t, 1e-9) /
        Runtime.getRuntime.availableProcessors * 100.0
      val tel = RunTel(t, cpuPct, gcCumMs - gc0, spillMem.get >> 20,
        spillDisk.get >> 20, peakExec.get >> 20, evictions.get,
        inputBytes.get >> 20, scanMs.get, status, Stage.drainEvents(),
        StreamingReplay.drainBatches())
      // free lineage-cut blocks the query pinned (outside the timed span —
      // it's harness hygiene, not query work): without this, 70 queries ×
      // 3 runs of leaked localCheckpoint blocks squat in the block manager
      // and evict later queries' shuffle state, inflating the tail of the
      // suite ~2-3× over each query's true steady-state time
      Materialize.releaseAll(spark)
      tel
    }

    try SparkEntry.queries("q01_scan_project")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    val telemetry =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[RunTel]]
    // SPARK_GRAFT_BENCH_FILTER: comma-separated name prefixes — run a
    // suite SLICE for overhead bisection / targeted window re-checks
    // (the driver never sets it; the full suite is the default)
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq).getOrElse(Nil)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => nameFilter.isEmpty || nameFilter.exists(n.startsWith))
    val results = selected.map { name =>
      val runs = (1 to 3).map { i =>
        val r = runOnce(name)
        // all three runs + spill/cpu attribution, not just the median:
        // an inflated run with spill bytes is memory pressure, one with
        // collapsed cpu% is external contention, high-cpu slow is real
        // query growth, a gcMs spike is heap pressure (listener lag
        // means a run's last stages may attribute to the next line —
        // read coarsely)
        System.err.println(f"[bench-runs] $name r$i ${r.t}%.2f " +
          f"cpu=${r.cpuPct}%.0f%% gcMs=${r.gcMs} " +
          f"spillMemMB=${r.spillMemMb} spillDiskMB=${r.spillDiskMb} " +
          f"peakExecMB=${r.peakExecMb} evicted=${r.evicted} " +
          f"inputMB=${r.inputMb} scanMs=${r.scanMs}")
        r
      }
      telemetry(name) = runs
      // between queries (outside any timed span): give the cleaner a GC
      // so this query's shuffle/broadcast state is gone before the next
      // query is timed — without it the suite tail measures cleanup debt,
      // not the query
      System.gc()
      val (nCached, cachedMb) = cachedState
      System.err.println(s"[bench-diag] $name cachedRdds=$nCached " +
        s"cachedMB=$cachedMb codeCacheMB=$codeCacheMb gcCumMs=$gcCumMs " +
        s"heapMB=${(Runtime.getRuntime.totalMemory -
          Runtime.getRuntime.freeMemory) >> 20}")
      name -> runs.map(_.t).sorted.apply(1) // median of 3
    }
    // round-1 comparability: one single-shot `.count()` pass per query —
    // the methodology BENCH_r01 recorded (count lets Catalyst prune
    // unused final projections, so it undercounts; kept only for the
    // round-over-round comparison). It stays AFTER the med3 pass (warm
    // codegen — how every prior round measured it; a fresh-JVM ordering
    // re-pays first-execution planning per query and reads 1.9× higher
    // on identical code). The per-query System.gc() matters here: this
    // pass previously skipped it and its tail drew a cleanup-debt
    // lottery — 96.8 s vs 154.5 s across two runs of identical code.
    val r1Total = selected.map { name =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => }
      val t = (System.nanoTime() - t0) / 1e9
      Materialize.releaseAll(spark)
      System.gc() // cleaner hygiene, outside every timed span
      // per-query breakdown to stderr (diagnosis only — the driver
      // snapshots stdout, which must stay one short JSON line)
      System.err.println(f"[bench-r1] $name $t%.2f")
      t
    }.sum
    // The driver snapshots only the LAST 2000 chars of stdout. At 123
    // queries the full-name breakdown alone is ~3k chars — round 7's line
    // lost its head (including "metric"/"value") to the tail window and
    // the driver recorded parsed:null. Keep stdout parseable: per-query
    // keys shortened to their unique first segment ("qx23_span_removal" →
    // "qx23"), 2-decimal times, headline total restated at the END of the
    // line so it survives even if the head gets clipped. The full-name
    // breakdown goes to stderr for humans.
    def f2(v: Double): String = "%.2f".format(v)
    results.foreach { case (k, v) =>
      System.err.println(f"[bench-med3] $k ${v}%.2f") }
    val total = results.map(_._2).sum
    // The full per-query med3 map has outgrown any stdout tail window
    // (198 queries ≈ 3k chars even with shortened keys), and nine rounds
    // of tail-fitting tricks never produced a parsed artifact. New
    // contract: stdout carries a SHORT totals-only JSON line (always
    // parseable — with run/outputStrategy := StdoutOutput it is a raw
    // line starting with "{"); the complete per-query breakdown goes to
    // a committed sidecar file (SPARK_GRAFT_BENCH_OUT, default
    // BENCH_full_latest.json in the repo root) alongside the stderr
    // [bench-runs]/[bench-med3] evidence lines.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_full_latest.json")
    val fullJson = new StringBuilder()
    fullJson ++= "{\n  \"metric\": \"total\",\n"
    fullJson ++= s"""  "value": ${f2(total)},\n  "unit": "sec",\n"""
    fullJson ++= s"""  "sf": "$sfDir",\n  "method": "noop-sink-med3",\n"""
    fullJson ++= s"""  "r1_total_sec": ${f2(r1Total)},\n"""
    fullJson ++= s"""  "n_queries": ${results.size},\n  "queries": {\n"""
    fullJson ++= results.map { case (k, v) => s"""    "$k": ${f2(v)}""" }
      .mkString(",\n")
    fullJson ++= "\n  },\n"
    // per-query, per-run JVM telemetry (VERDICT r14 #1b): with this in
    // the committed sidecar, a driver-window inflation is adjudicable
    // from data — t[] up with gc_ms[] up = heap pressure, with
    // spill_mb[] up = memory pressure, with cpu_pct[] collapsed =
    // external contention, evictions > 0 = block-manager displacement
    // (gated on still-registered RDDs, so unpersist bleed from the
    // previous query's async cleanup is not counted — ADVICE r15),
    // scan_ms[] up with input_mb[] flat = the same bytes re-read
    // slower (the cold-page-cache signature, VERDICT r15 #2); status[]
    // says whether each run succeeded, staging[] lists each run's
    // per-dir fact stagings (a miss writes, a hit reads the memo), and
    // streaming[] each run's replay micro-batches
    fullJson ++= "  \"telemetry\": {\n"
    fullJson ++= telemetry.map { case (k, runs) =>
      def arr[A](f: RunTel => A): String =
        runs.map(f).mkString("[", ",", "]")
      def staging(r: RunTel): String = r.staging.map(e =>
        s"""{"fact": ${jsonStr(e.fact)}, "dir": ${jsonStr(e.key)}, """ +
          s""""bytes": ${e.bytes}, "ms": ${f2(e.ms)}, """ +
          s""""outcome": "${if (e.hit) "hit" else "miss"}"}""")
        .mkString("[", ", ", "]")
      def streaming(r: RunTel): String = r.streaming.map(b =>
        s"""{"query": ${jsonStr(b.query)}, "batch": ${b.batchId}, """ +
          s""""rows": ${b.inputRows}, "ms": """ +
          b.durationMs.map { case (p, ms) => s""""$p": $ms""" }
            .mkString("{", ", ", "}") + ", \"state_commit_ms\": " +
          b.stateCommitMs.mkString("[", ",", "]") + "}")
        .mkString("[", ", ", "]")
      s"""    "$k": {"t": ${arr(r => f2(r.t))}, """ +
        s""""cpu_pct": ${arr(r => r.cpuPct.round)}, """ +
        s""""gc_ms": ${arr(_.gcMs)}, """ +
        s""""spill_mem_mb": ${arr(_.spillMemMb)}, """ +
        s""""spill_disk_mb": ${arr(_.spillDiskMb)}, """ +
        s""""peak_exec_mb": ${arr(_.peakExecMb)}, """ +
        s""""evicted_blocks": ${arr(_.evicted)}, """ +
        s""""input_mb": ${arr(_.inputMb)}, """ +
        s""""scan_ms": ${arr(_.scanMs)}, """ +
        s""""status": ${arr(r => jsonStr(r.status))}, """ +
        s""""staging": ${arr(staging)}, """ +
        s""""streaming": ${arr(streaming)}}"""
    }.mkString(",\n")
    fullJson ++= "\n  }\n}\n"
    val sidecarBytes = fullJson.toString.getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      sidecarBytes)
    // ALSO key a copy on the core count (VERDICT r16 #2): a 32c + 8c
    // driver sequence used to leave only the LAST window's per-query map
    // (the 8c pass overwrote BENCH_full_latest.json), so round-over-round
    // per-query comparison had nothing to join. Both windows now survive;
    // the stdout contract and the `sidecar` alias are unchanged.
    val sidecarC = new java.io.File(sidecar).toPath.resolveSibling(
      s"BENCH_full_c$cpus.json").toString
    if (sidecarC != sidecar)
      java.nio.file.Files.write(java.nio.file.Paths.get(sidecarC),
        sidecarBytes)
    println(s"""{"metric":"total","value":${f2(total)},"unit":"sec","sf":"$sfDir","method":"noop-sink-med3","r1_total_sec":${f2(r1Total)},"n_queries":${results.size},"total_sec":${f2(total)},"queries_file":"$sidecar"}""")
    spark.stop()
  }
}
