package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM (see ../run.py, which builds this,
  * launches it and adds the checks and measurements that need the JVM to
  * have exited).
  *
  * Shape of every workload: set up its inputs `SetupReps` times (the
  * median is `setup_s`), run one cold iteration, then a closed loop of
  * iterations with one client thread until `seconds` have passed. With
  * tracing on, odd iterations are traced and even ones are not, so the
  * same process measures the traced-minus-untraced overhead. */
object Main {
  val SetupReps = 7

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: File, out: File,
                        data: Option[String], keys: Option[Seq[String]],
                        python: String, catalogPy: String)

  /** What a workload reports; the runner adds the Spark-side layers. */
  final case class Named(name: String, value: Double, unit: String, n: Int)

  trait Workload {
    /** Writes this run's inputs; called `SetupReps` times before Spark starts. */
    def setup(rep: Int): Unit
    def sessionConf: Map[String, String]
    /** One closed-loop iteration; `cold` marks the first. */
    def iteration(i: Int, cold: Boolean, traced: Boolean): Unit
    /** Iterations (the cold one included) a run makes even past its time. */
    def minIterations: Int = 1
    /** Output checks and single-thread layer probes, outside every timed span. */
    def finish(traced: Boolean): Unit
    /** End-to-end metrics; `suffix` selects untraced ("") or traced samples. */
    def endToEnd(suffix: String): Map[String, (Double, Int)]
    def named: Seq[Named]
    def layers: Map[String, Double]
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("out")),
      m.get("data"), m.get("keys").map(_.split(",").toSeq),
      need("python"), need("catalog-py"))
  }

  def session(conf: Map[String, String], work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.work.mkdirs()
    val ops = new Ops
    val w: Workload = args.workload match {
      case "ais_trips" => new AisTrips(args, ops)
      case "catalog_mix" => new CatalogMix(args, ops)
      case other => sys.error(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val setupS = (0 until SetupReps).map { r =>
      val s0 = System.nanoTime(); w.setup(r); (System.nanoTime() - s0) / 1e9
    }
    val spark = session(w.sessionConf, args.work)
    val counters = new Counters(spark)
    val trace = new Trace(counters, new Sampler)
    Ctx.spark = spark; Ctx.trace = trace

    def phase(name: String): Unit = println(f"[perfbench] $name at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    phase("session up")
    w.iteration(0, cold = true, traced = false)
    phase("cold iteration done")
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var i = 1
    // a traced run needs at least one traced and one untraced iteration
    val minIterations = math.max(w.minIterations, if (args.trace) 3 else 1)
    while (System.nanoTime() < deadline || i < minIterations) {
      val traced = args.trace && i % 2 == 1
      trace.on = traced; counters.tracing = traced
      w.iteration(i, cold = false, traced)
      i += 1
    }
    trace.on = false; counters.tracing = false
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val tmpMb = (dirBytes(new File(System.getProperty("java.io.tmpdir"))) +
      shmBytes()) / 1048576.0
    graft.Materialize.releaseAll(spark)
    // Spark's ContextCleaner frees shuffle and broadcast state only after a
    // GC has collected its handles; let it catch up before measuring
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    phase(s"loop done ($i iterations)")
    w.finish(args.trace)
    phase("checks done")

    val e2e = w.endToEnd("") ++ Map(
      "setup_s" -> (Stats.median(setupS), setupS.size),
      "retained_heap_mb" -> (heapMb, 1))
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (args.trace) {
      // Spark counters per timed operation; layer probes are left out
      val opSpans = trace.spans.filter(s => s.parent < 0 && !s.name.startsWith("probe."))
      val nOps = math.max(1, opSpans.size)
      def perOp(k: String) = opSpans.map(_.counts.getOrElse(k, 0L)).sum.toDouble / nOps
      Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_ms",
        "spark.gc_ms", "spark.analysis_ms", "spark.optimization_ms",
        "spark.planning_ms", "spark.exec_ms", "plans.overlap.candidates",
        "plans.overlap.survivors", "streaming.batches",
        "streaming.add_batch_ms", "streaming.query_planning_ms",
        "streaming.commit_ms").foreach(k => layer(k) = perOp(k))
      layer("spark.task_busy_s") = perOp("spark.task_busy_ns") / 1e9
      layer("spark.shuffle_write_mb") = perOp("spark.shuffle_write_b") / 1048576.0
      layer("spark.spill_mb") = perOp("spark.spill_b") / 1048576.0
      trace.finish()
      val selfMs = trace.sampler.byKind
      Seq("meos", "plans", "ext", "sources", "streaming", "queries", "spark").foreach { l =>
        layer(s"self_ms.$l") = selfMs.values.map(_.getOrElse(l, 0.0)).sum / math.max(1, trace.ops)
      }
      val traced = w.endToEnd("@trace")
      Seq("throughput_per_s", "latency_p50_ms", "latency_p90_ms").foreach { k =>
        for ((u, _) <- e2e.get(k); (t, _) <- traced.get(k))
          layer(s"overhead.$k") = t - u
      }
      layer("queries.tmp_mb_written") = tmpMb
      layer("materialize.cached_mb") = cachedMb
      layer ++= w.layers
    }
    val json = Map(
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.map { case (o, m) => Seq(o, m) },
      "e2e" -> e2e.map { case (k, (v, n)) => k -> Map("value" -> v, "n" -> n) },
      "named" -> w.named.map(n => Map("name" -> n.name, "value" -> n.value,
        "unit" -> n.unit, "n" -> n.n)),
      "layer" -> layer.toMap,
      "spans" -> trace.toJson,
      "self_ms_by_kind" -> trace.sampler.byKind,
      "ops_by_kind" -> trace.spans.filter(_.parent < 0)
        .groupBy(s => Sampler.kind(s.name)).map { case (k, v) => k -> v.size })
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(args.out, json)
    trace.sampler.close()
    spark.stop()
    phase("stopped")
  }

  /** Bytes under the program's tmpfs scratch roots (it stages streaming
    * checkpoints under /dev/shm when that is writable). */
  def shmBytes(): Long =
    Option(new File("/dev/shm").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-")).map(dirBytes).sum
}

/** The run's shared handles, set once Spark is up. */
object Ctx {
  var spark: SparkSession = _
  var trace: Trace = _
}
