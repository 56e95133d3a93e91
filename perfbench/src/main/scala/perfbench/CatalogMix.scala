package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.{Bench, Materialize, SparkEntry}

/** A family-stratified panel of the declared query catalogue over the
  * benchmark's catalogue (written by ../catalog.py before this JVM starts). Every
  * sampled query runs once cold, then the sample repeats warm in whole
  * rounds of a closed loop. Every repeat must reproduce the query's first
  * result, and after the loop each first result is compared with its
  * DuckDB oracle twin. */
final class CatalogMix(args: Main.Args, ops: Ops) extends Main.Workload {
  import CatalogMix._

  private val dataDir = args.data.getOrElse(sys.error("catalog_mix needs --data"))
  /** The panel, in the same order on every seed: a query's warm time
    * depends on which query ran before it (cleanup and GC of its state),
    * and a per-seed order adds that to the spread between runs. */
  val keys: Seq[String] = args.keys.getOrElse(Panel)

  def setup(rep: Int): Unit = ()

  def sessionConf: Map[String, String] = {
    val (adv, minPart) = Bench.derivedAqeGrain(dataDir, Runtime.getRuntime.availableProcessors)
    Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> adv.toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minPart.toString,
      "spark.cleaner.periodicGC.interval" -> "1min")
  }

  private def layerOf(key: String) = if (key.startsWith("qs")) "streaming" else "queries"

  /** First-execution results, checked against the oracle after the run,
    * and their rows in canonical sorted form, which every later execution
    * must reproduce. */
  private val firstResults = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
  private val firstCanon = mutable.Map.empty[String, Array[String]]

  /** One timed execution. It collects every row and column (nothing for
    * Catalyst to prune, as with Bench's noop sink), so the rows the checks
    * see are the rows that were timed. Outside the timed span, a repeat
    * execution is compared with the query's first result: per-dir memos
    * serve repeats, so a stale or wrong memo fails here instead of reading
    * as a speed-up. */
  private def run(key: String, series: String): Unit = {
    val spark = Ctx.spark
    val trace = Ctx.trace
    trace.op(key) {
      ops.attempt(series, key) {
        val df = trace.span(layerOf(key), key)(SparkEntry.queries(key)(spark, dataDir))
        (trace.span("spark", "collect")(df.collect()), df.schema)
      }
    }.foreach { case ((rows, schema), _) =>
      val got = rows.map(canon).sorted
      firstCanon.get(key) match {
        case None =>
          firstResults(key) = (rows, schema)
          firstCanon(key) = got
        case Some(want) if !(got sameElements want) =>
          val i = got.indices.find(i => i >= want.length || got(i) != want(i))
          ops.fail(series, key, i.map(i => s"repeat differs from the first result at " +
            s"sorted row $i: ${got(i).take(120)}").getOrElse(
            s"repeat has ${got.length} rows, the first result ${want.length}"))
        case _ =>
      }
    }
    // between executions, outside the timed span, as graft.Bench does: free
    // the lineage-cut blocks and let the cleaner drop this query's state
    Materialize.releaseAll(spark)
    System.gc()
  }

  /** The cold iteration runs each query once; every later iteration is
    * one whole warm round over the panel, so each query weighs the same. */
  def iteration(i: Int, cold: Boolean, traced: Boolean): Unit =
    keys.foreach(k => run(k, if (cold) s"cold:$k" else warm(if (traced) "@trace" else "", k)))

  private def warm(sfx: String, key: String) = s"warm$sfx:$key"
  private def coldTimes: Seq[Double] = keys.flatMap(k => ops.series(s"cold:$k"))

  /** Each query's median warm time: one value per query whatever the
    * number of rounds, so the percentiles are over the same 8 queries. */
  private def perQuery(sfx: String): Seq[Double] =
    keys.map(k => ops.series(warm(sfx, k))).filter(_.nonEmpty).map(Stats.median)

  /** At least two warm rounds: one sample per query is too noisy. */
  override def minIterations: Int = 3

  /** Each first-execution result as parquet (timestamps as TIMESTAMP_NTZ,
    * as the oracle reads the catalogue's naive timestamps), compared with
    * its `SparkEntry.oracleSql` twin in DuckDB by ../catalog.py. A key whose
    * result differs loses all its samples, cold and warm; with tracing on,
    * the ext-layer dedup probe runs after. */
  def finish(traced: Boolean): Unit = {
    val spark = Ctx.spark
    val out = new File(args.work, "results")
    firstResults.foreach { case (k, (rows, schema)) =>
      val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      df.select(schema.fields.toSeq.map { f =>
        val t = ntz(f.dataType)
        if (t == f.dataType) col(f.name) else col(f.name).cast(t).as(f.name)
      }: _*).coalesce(1).write.mode("overwrite").parquet(new File(out, k).getPath)
    }
    val oracle = firstResults.keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    val oracleFile = new File(args.work, "oracle.json")
    mapper.writeValue(oracleFile, oracle)
    val verdictFile = new File(args.work, "verdict.json")
    val rc = new ProcessBuilder(args.python, args.catalogPy, "compare", dataDir,
      out.getPath, oracleFile.getPath, verdictFile.getPath).inheritIO().start().waitFor()
    ops.attempted += oracle.size
    if (rc != 0) ops.failures += ("oracle" -> s"oracle compare exited with $rc")
    else mapper.readValue(verdictFile, classOf[Map[String, String]]).foreach {
      case (k, why) if why != null =>
        ops.invalidate(s"cold:$k" +: Seq("", "@trace").map(warm(_, k)), s"oracle-$k", why)
      case _ =>
    }
    if (traced) {
      val probe = new DedupProbe(args.seed, args.work, ops)
      Ctx.trace.on = true
      (0 until DedupProbe.Passes).foreach(probe.pass)
      Ctx.trace.on = false
      probeLayers = probe.layers
    }
  }

  private var probeLayers = Map.empty[String, Double]

  def endToEnd(sfx: String): Map[String, (Double, Int)] = {
    val q = perQuery(sfx)
    val cold = coldTimes
    Map(
      "throughput_per_s" -> (if (q.isEmpty) 0.0 else q.size / q.sum, q.size),
      "latency_p50_ms" -> (if (q.isEmpty) 0.0 else Stats.median(q) * 1000, q.size),
      "latency_p90_ms" -> (if (q.isEmpty) 0.0 else Stats.pct(q, 0.9) * 1000, q.size)) ++
      (if (sfx.isEmpty) Map("cold_s" -> (cold.sum, cold.size)) else Map.empty)
  }

  def named: Seq[Main.Named] = {
    val q = perQuery("")
    val e = endToEnd("")
    Seq(
      Main.Named("query_p50_s", e("latency_p50_ms")._1 / 1000, "s", q.size),
      Main.Named("query_p90_s", e("latency_p90_ms")._1 / 1000, "s",
        if (q.isEmpty) 0 else Stats.beyond(q, 0.9)),
      Main.Named("cold_s", e("cold_s")._1, "s", e("cold_s")._2),
      Main.Named("warm_executions", keys.map(k => ops.series(warm("", k)).size).sum.toDouble,
        "count", keys.size)) ++
      keys.map(k => ops.series(warm("", k))).zip(keys).collect { case (xs, k) if xs.nonEmpty =>
        Main.Named(s"warm_s.$k", Stats.median(xs), "s", xs.size)
      }
  }

  def layers: Map[String, Double] = probeLayers
}

object CatalogMix {
  /** One key per query family (q, qc, qe, qm, qp, qs, qx, qz): the
    * family's median-time key in the committed 8-core `Bench` sidecar
    * (BENCH_full_c8.json, sf0.1), so each family is represented by a
    * typical query and every run times the same mix. */
  val Panel: Seq[String] = Seq("q64_dynamic_partition_prune", "qc2_codec_golden",
    "qe13_knn_classify", "qm10_audio_loudness", "qp1_curation_pipeline",
    "qs16_stream_fb_upsert", "qx20_bm25", "qz25_time_to_convert")

  /** A value as exact text, independent of object identity: binary as
    * hex, rows, arrays and maps element by element (map entries sorted). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x'", "", "'")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def ntz(dt: DataType): DataType = dt match {
    case TimestampType => TimestampNTZType
    case ArrayType(et, n) => ArrayType(ntz(et), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = ntz(f.dataType))))
    case MapType(k, v, n) => MapType(ntz(k), ntz(v), n)
    case other => other
  }
}
