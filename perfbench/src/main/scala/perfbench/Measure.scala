package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Operation accounting for one closed-loop run.
  *
  * Every timed call goes through [[attempt]]: a throw marks the operation
  * failed with its message and records no time, so a failure can never
  * read as a fast success. A failed output check calls [[fail]] (or
  * [[invalidate]]) and turns already-timed samples into a failure the same
  * way. */
final class Ops {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L

  /** Times `body` in seconds; None (and a recorded failure) if it throws. */
  def attempt[T](series: String, op: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += s
      Some((r, s))
    } catch {
      case e: Throwable =>
        failures += (op -> Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.toSeq.headOption.getOrElse("").take(300))
        None
    }
  }

  /** Mark the last sample of `series` as failed (its output was wrong). */
  def fail(series: String, op: String, msg: String): Unit = {
    samples.get(series).foreach(b => if (b.nonEmpty) b.remove(b.length - 1))
    failures += (op -> msg.take(300))
  }

  /** Mark every sample of `series` as failed: an output check found the
    * operation wrong in all its executions. */
  def invalidate(series: Seq[String], op: String, msg: String): Unit = {
    series.foreach(samples.remove)
    failures += (op -> msg.take(300))
  }

  def failed: Long = failures.size.toLong
  def series(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (q in (0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Samples strictly beyond the q-th percentile. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val p = pct(xs, q)
    xs.count(_ > p)
  }
}

/** Cumulative Spark counters, fed by listeners registered once per run. */
final class Counters(spark: SparkSession) {
  val jobs, stages, tasks, taskBusyNs, taskWaitMs, shuffleWriteB, spillB,
      gcMs = new AtomicLong()
  val analysisMs, optimizationMs, planningMs, execMs = new AtomicLong()
  val overlapCandidates, overlapSurvivors = new AtomicLong()
  val batches, addBatchMs, queryPlanningMs, commitMs = new AtomicLong()
  /** Spark phase intervals (layer-name, start-ns, end-ns) for the trace. */
  val phaseSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile var tracing = false

  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      stageSubmitted.remove(e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(stageSubmitted.get(e.stageId)).foreach(s =>
        taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        taskBusyNs.addAndGet(m.executorRunTime * 1000000L)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      val now = System.nanoTime()
      val ph = qe.tracker.phases
      def add(name: String, acc: AtomicLong): Unit = ph.get(name).foreach { p =>
        acc.addAndGet(p.endTimeMs - p.startTimeMs)
        if (tracing)
          phaseSpans.add((s"spark.$name", p.startTimeMs * 1000000L + msToNs,
            p.endTimeMs * 1000000L + msToNs))
      }
      add("analysis", analysisMs)
      add("optimization", optimizationMs)
      add("planning", planningMs)
      execMs.addAndGet(durationNs / 1000000L)
      if (tracing) phaseSpans.add(("spark.execution", now - durationNs, now))
      PlanMetrics.overlap(qe).foreach { case (c, s) =>
        overlapCandidates.addAndGet(c); overlapSurvivors.addAndGet(s)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches.incrementAndGet()
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      addBatchMs.addAndGet(ms("addBatch"))
      queryPlanningMs.addAndGet(ms("queryPlanning"))
      commitMs.addAndGet(ms("walCommit") + ms("commitOffsets"))
    }
  })

  /** Wait until every posted listener event has been handled, so counters
    * read at an operation boundary include that operation's events. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBusAccess.drain(spark)

  def snapshot(): Map[String, Long] = Map(
    "spark.jobs" -> jobs.get, "spark.stages" -> stages.get,
    "spark.tasks" -> tasks.get, "spark.task_busy_ns" -> taskBusyNs.get,
    "spark.task_wait_ms" -> taskWaitMs.get,
    "spark.shuffle_write_b" -> shuffleWriteB.get, "spark.spill_b" -> spillB.get,
    "spark.gc_ms" -> gcMs.get, "spark.analysis_ms" -> analysisMs.get,
    "spark.optimization_ms" -> optimizationMs.get,
    "spark.planning_ms" -> planningMs.get, "spark.exec_ms" -> execMs.get,
    "plans.overlap.candidates" -> overlapCandidates.get,
    "plans.overlap.survivors" -> overlapSurvivors.get,
    "streaming.batches" -> batches.get,
    "streaming.add_batch_ms" -> addBatchMs.get,
    "streaming.query_planning_ms" -> queryPlanningMs.get,
    "streaming.commit_ms" -> commitMs.get)
}

/** Pruning counters of the bucketed overlap join, read from an executed
  * plan's SQL metrics: candidates are the bucket-exploded rows both sides
  * feed into the bucket equi-join, survivors the rows the join emits after
  * its exact overlap predicate. */
object PlanMetrics {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.joins.HashJoin
  import org.apache.spark.sql.execution.joins.SortMergeJoinExec

  private val BucketCol = "__graft_bucket_"

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Nil
    }
    p +: (inner ++ p.children).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  def overlap(qe: QueryExecution): Option[(Long, Long)] = {
    val all = nodes(qe.executedPlan)
    def bucketed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name.startsWith(BucketCol)))
    val joins = all.filter {
      case j: SortMergeJoinExec => bucketed(j.leftKeys)
      case j: HashJoin => bucketed(j.leftKeys)
      case _ => false
    }
    if (joins.isEmpty) None
    else {
      val gens = all.collect {
        case g: GenerateExec
            if g.generatorOutput.exists(_.name.startsWith(BucketCol)) => rows(g)
      }
      Some((gens.sum, joins.map(rows).sum))
    }
  }
}

/** Per-layer self time by stack sampling, inside Spark tasks as well as on
  * the driver. Spark runs a layer's kernels lazily, inside the tasks of a
  * later action, so a span around the call that builds a DataFrame does
  * not time that layer's work; samples of the threads that do run it do.
  *
  * While an operation is open, every `IntervalMs` the sampler reads the
  * stack of the client (main) thread and of every Spark executor task
  * thread. Each RUNNABLE thread is charged the time since the previous
  * sample, to the layer of its innermost frame that belongs to a layer
  * (JDK, Scala and third-party frames are skipped, so a `StringBuilder`
  * under a WKT print counts as `meos`). Generated code lives in Spark's
  * packages and counts as `spark`. Times are thread-milliseconds, so with
  * several task threads busy they sum to more than the wall time. */
final class Sampler {
  import Sampler._

  /** Thread-nanoseconds per (operation kind, layer). */
  private val charged = mutable.Map.empty[(String, String), Long]
  @volatile private var current: String = null
  @volatile private var running = true
  private val client = Thread.currentThread()

  private val thread = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(IntervalMs)
      val now = System.nanoTime()
      val kind = current
      if (kind != null) sample(kind, now - last)
      last = now
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  private def sample(kind: String, dt: Long): Unit = {
    val root = Iterator.iterate(Thread.currentThread().getThreadGroup)(_.getParent)
      .dropWhile(_.getParent != null).next()
    val all = new Array[Thread](root.activeCount() * 2 + 16)
    val n = root.enumerate(all, true)
    (0 until n).map(all(_)).filter(t => (t eq client) ||
        t.getName.startsWith("Executor task launch worker"))
      .filter(_.getState == Thread.State.RUNNABLE).foreach { t =>
        val layer = t.getStackTrace.iterator.map(f => layerOf(f.getClassName))
          .collectFirst { case Some(l) => l }.getOrElse("other")
        charged.synchronized {
          charged((kind, layer)) = charged.getOrElse((kind, layer), 0L) + dt
        }
      }
  }

  /** Charge samples to operation `name` (its kind is the name without
    * trailing `-<n>` parts) until [[stop]]. */
  def start(name: String): Unit = current = kind(name)
  def stop(): Unit = current = null
  def close(): Unit = { running = false; thread.join() }

  /** Sampled thread-milliseconds per operation kind and layer. */
  def byKind: Map[String, Map[String, Double]] = charged.synchronized {
    charged.toSeq.groupBy(_._1._1).map { case (k, xs) =>
      k -> xs.map { case ((_, l), ns) => l -> ns / 1e6 }.toMap
    }
  }
}

object Sampler {
  val IntervalMs = 10L

  /** An operation's kind: its name without trailing `-<n>` parts. */
  def kind(op: String): String = op.replaceAll("(-\\d+)+$", "")

  /** `graft.meos.NativeExpressions` also hosts the Catalyst expressions
    * and executor bridges of the ext kernels (minhash, simhash, PQ, ...);
    * only the temporal-point ones belong to `meos`. */
  private val BridgeOrExpr = """graft\.meos\.(\w+Bridge|NativeExpressions\$\w+)""".r.unanchored
  private def extBridge(cls: String): Boolean = cls match {
    case BridgeOrExpr(name) => !Seq("TGeomBridge", "TGeomOutBridge", "WkbBridge",
      "NativeExpressions$TGeompoint").exists(name.startsWith)
    case _ => false
  }

  /** The layer a frame's class belongs to, named after the engine's
    * modules; `graft.Pipelines` (the AIS source-to-sink dataflow) counts
    * as `sources`, the extension hook as `plans`, and the catalogue and
    * its staging (`SparkEntry`, `Materialize`, `Tables`, ...) as `queries`. */
  def layerOf(cls: String): Option[String] =
    if (cls.startsWith("graft.meos.")) Some(if (extBridge(cls)) "ext" else "meos")
    else if (cls.startsWith("graft.plans.") || cls.startsWith("graft.GraftExtensions")) Some("plans")
    else if (cls.startsWith("graft.ext.")) Some("ext")
    else if (cls.startsWith("graft.sources.") || cls.startsWith("graft.Pipelines")) Some("sources")
    else if (cls.startsWith("graft.streaming.")) Some("streaming")
    else if (cls.startsWith("graft.")) Some("queries")
    else if (cls.startsWith("org.apache.spark.")) Some("spark")
    else if (cls.startsWith("perfbench.")) Some("bench")
    else None
}

/** In-memory spans around every call the benchmark makes into a layer,
  * written out when the run ends. Span parents are explicit for the
  * benchmark's own spans; Spark phase spans (from the query listener) are
  * attached to the innermost span that contains their start. Spans give
  * the wall-clock structure of each operation; per-layer self time comes
  * from the [[Sampler]], because a layer's kernels run inside Spark's
  * execution spans, not inside the spans that build its DataFrames. */
final class Trace(counters: Counters, val sampler: Sampler) {
  final case class Span(id: Int, parent: Int, op: Long, layer: String,
                        name: String, start: Long, var end: Long,
                        var counts: Map[String, Long])
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var on = false
  private var opId = 0L

  /** A top-level operation span; counters are drained at both ends so the
    * span's listener deltas hold exactly its own events. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      opId += 1
      counters.drain()
      val before = counters.snapshot()
      sampler.start(name)
      val r = try span("bench", name)(body) finally sampler.stop()
      counters.drain()
      val after = counters.snapshot()
      spans.find(s => s.op == opId && s.parent < 0).foreach { s =>
        s.counts = after.map { case (k, v) => k -> (v - before(k)) }
      }
      r
    }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
        opId, layer, name, System.nanoTime(), 0L, Map.empty)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** Fold the listener's phase spans in, as children of the innermost
    * benchmark span that contains their start. */
  def finish(): Unit = {
    import scala.jdk.CollectionConverters._
    val bench = spans.toVector
    counters.phaseSpans.asScala.foreach { case (name, st, en) =>
      val parent = bench.filter(s => s.start <= st && st <= s.end)
        .sortBy(s => s.end - s.start).headOption
      parent.foreach(p => spans += Span(spans.length, p.id, p.op, "spark",
        name, math.max(st, p.start), math.min(math.max(en, st), p.end), Map.empty))
    }
  }

  /** Traced operations so far (probes included). */
  def ops: Int = spans.count(_.parent < 0)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
    "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
    "counts" -> s.counts))
}
