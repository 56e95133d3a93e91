package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{ScalaAggregator, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meos.{Boxes, MeosFunctions, TGeom}
import graft.sources.{AisCsv, TripSource}

/** Plan pins for the trip codec: the ingest's write plan
  * ([[Pipelines.aisToFile]]) and the trip lookup (read back through
  * [[TripSource]], box-overlap join, value-at and WKT print) carry no
  * `ScalaUDF`, and every bridge they call compiles under janino
  * (`spark.sql.codegen.fallback=false`, so a compile error fails instead
  * of falling back to interpretation). The ingest assembles its trips
  * behind one exchange, in 2 jobs. Results are checked against TGeom's
  * driver-side codec on the written trip file. */
class TripPlanSpec extends SparkTestBase {

  private object aqe extends AdaptiveSparkPlanHelper

  /** An extensions session (the overlap-join rewrite) on the shared
    * context, with codegen fallback off and broadcast joins off (so the
    * rewrite, not a broadcast nested loop, plans the join). */
  private def withExtSession(f: SparkSession => Unit): Unit = {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.graft.overlapJoin.bucketWidthSeconds", "3600")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val prev = s.conf.getOption("spark.sql.codegen.fallback")
      s.conf.set("spark.sql.codegen.fallback", "false")
      try f(s)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.codegen.fallback", v)
        case None => s.conf.unset("spark.sql.codegen.fallback")
      }
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  private def udfs(plan: LogicalPlan): Seq[String] =
    plan.collect { case p => p.expressions.flatMap(_.collect {
      case u: ScalaUDF => u.toString })
    }.flatten

  /** `f`'s value and the number of jobs its one SQL execution ran. */
  private def jobsOf[A](s: SparkSession)(f: => A): (A, Int) = {
    val jobs = new ConcurrentLinkedQueue[Long]()
    val ended = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .foreach(id => jobs.add(id.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd => ended.add(end.executionId)
        case _ =>
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      val a = f
      // events arrive asynchronously, an execution's jobs before its end
      val deadline = System.nanoTime() + 30e9.toLong
      while (ended.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ended.size == 1, s"executions ended: $ended")
      (a, jobs.asScala.count(_ == ended.peek))
    } finally s.sparkContext.removeSparkListener(listener)
  }

  /** Eight vessels, 40 posits each a minute apart, on a diagonal. */
  private def writeCsv(): String = {
    val dir = tempDir("ais-plan")
    val rows = for (v <- 0 until 8; k <- 0 until 40) yield {
      val ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .plusMinutes(k + 5L * v).format(
          java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      f"${367000000 + v},$ts,${20 + 0.01 * k + v}%.4f," +
        f"${-80 + 0.01 * k + v}%.4f,70"
    }
    Files.writeString(dir.resolve("a.csv"),
      ("MMSI,BaseDateTime,LAT,LON,VesselType" +: rows).mkString("\n") + "\n")
    dir.toString
  }

  /** The executions of `aisToFile` on [[writeCsv]]'s file in `s`, after
    * checking it wrote the eight trips, and the jobs the write ran. */
  private def aisToFileExecutions(s: SparkSession)
      : (Seq[QueryExecution], Int) = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val out = tempDir("trips-plan").toString + "/out"
    val posits = AisCsv.read(s, writeCsv())
    val (_, jobs) = try jobsOf(s)(Pipelines.aisToFile(posits, out))
    finally {
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (qes.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      s.listenerManager.unregister(listener)
    }
    assert(!qes.isEmpty, "the write was not observed")
    assert(s.read.text(out).count() == 8)
    (qes.toArray(Array.empty[QueryExecution]).toSeq, jobs)
  }

  test("aisToFile's write plan has no ScalaUDF and compiles in codegen") {
    withExtSession { s =>
      aisToFileExecutions(s)._1.map(_.analyzed).foreach(p =>
        assert(udfs(p).isEmpty, p.treeString))
    }
  }

  test("aisToFile's executed plan scans the CSV once, with no join, no " +
    "sort aggregate and no ScalaAggregator") {
    withExtSession { s =>
      val (qes, _) = aisToFileExecutions(s)
      assert(qes.size == 1, "one action writes the trips")
      val plan = qes.head.executedPlan
      val nodes = aqe.collect(plan) { case p => p }
      val scans = nodes.collect {
        case f: FileSourceScanExec if f.relation.fileFormat.toString == "CSV" =>
          f
      }
      assert(scans.size == 1, plan.treeString)
      assert(!nodes.exists {
        case _: BaseJoinExec | _: SortAggregateExec => true
        case _ => false
      }, plan.treeString)
      assert(!nodes.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[ScalaAggregator[_, _, _]]))), plan.treeString)
    }
  }

  test("aisToFile's write plan has one shuffle exchange and its execution " +
    "runs 2 jobs") {
    withExtSession { s =>
      val (qes, jobs) = aisToFileExecutions(s)
      val plan = qes.head.executedPlan
      // the trips assemble behind one exchange: a shuffle-map job (scan
      // and map-side assembly) and the write's job (merge, encode, write)
      assert(aqe.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1,
        plan.treeString)
      assert(jobs == 2, plan.treeString)
    }
  }

  test("the trip lookup plan (TripSource, box-overlap join, value-at, " +
    "WKT print) has no ScalaUDF, compiles in codegen, and matches the " +
    "driver codec") {
    withExtSession { s =>
      val out = tempDir("trips-plan").toString + "/out"
      Pipelines.aisToFile(AisCsv.read(s, writeCsv()), out)
      val trips = TripSource.readJsonLines(s, out)
      val inst = col("trip.sequences").getItem(0).getField("instants")
      val boxed = trips.select(col("id"), col("trip"), Boxes.stbox(
        array_min(transform(inst, _.getField("x"))),
        array_max(transform(inst, _.getField("x"))),
        array_min(transform(inst, _.getField("y"))),
        array_max(transform(inst, _.getField("y"))),
        element_at(inst, 1).getField("t"),
        element_at(inst, -1).getField("t")).as("box"))
      // windows around vessel 2 at minute 20, straddling vessel 3's start
      val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
      val ws = Seq((1, -78.0, -77.5, 22.0, 22.5, t0 + 600, t0 + 1800,
        t0 + 1230), (2, -80.0, -70.0, 20.0, 30.0, t0 + 1200, t0 + 1260,
        t0 + 1201))
      def lookup(ws: Seq[(Int, Double, Double, Double, Double, Long, Long,
                          Long)]) = {
        val wdf = s.createDataFrame(ws).toDF("wid", "xmin", "xmax", "ymin",
          "ymax", "tmin", "tmax", "at").select(col("wid"), Boxes.stbox(
          col("xmin"), col("xmax"), col("ymin"), col("ymax"),
          timestamp_seconds(col("tmin")), timestamp_seconds(col("tmax")))
          .as("wbox"), timestamp_seconds(col("at")).as("at"))
        wdf.join(boxed, Boxes.stboxOverlaps(col("wbox"), col("box")))
          .select(col("wid"), col("id"), col("at"),
            MeosFunctions.tgeompointValueAt(col("trip"), col("at")).as("p"),
            MeosFunctions.tgeompointOut(col("trip")).as("wkt"))
      }
      val joined = lookup(ws)
      assert(udfs(joined.queryExecution.analyzed).isEmpty,
        joined.queryExecution.analyzed.treeString)
      val (rows, jobs) = jobsOf(s)(joined.collect())
      // the literal windows join inside the trips' scan stage: nothing is
      // shuffled or broadcast, and the lookup runs as one job
      val plan = joined.queryExecution.executedPlan
      assert(aqe.collect(plan) {
        case p @ (_: ShuffleExchangeExec | _: BroadcastExchangeExec |
                  _: BaseJoinExec) => p
      }.isEmpty, plan)
      assert(jobs == 1, plan)
      // the windows change with every lookup but are not inlined into the
      // generated code: windows five minutes later compile nothing new
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(lookup(ws.map { case (w, x0, x1, y0, y1, t1, t2, at) =>
        (w, x0, x1, y0, y1, t1 + 300, t2 + 300, at + 300) }).collect()
        .nonEmpty)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)

      // reference: TGeom's driver-side codec on the file's HexWKB
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val byId = s.read.text(out).collect().map { r =>
        val n = mapper.readTree(r.getString(0))
        n.get("id").asLong -> TGeom.fromHexWkb(n.get("json").asText)
      }.toMap
      val want = for {
        (wid, x0, x1, y0, y1, tmin, tmax, at) <- ws
        (id, v) <- byId.toSeq
        is = v.sequences.flatMap(_.instants)
        if is.map(_.x).min <= x1 && x0 <= is.map(_.x).max &&
          is.map(_.y).min <= y1 && y0 <= is.map(_.y).max &&
          is.head.t.getEpochSecond <= tmax && tmin <= is.last.t.getEpochSecond
      } yield (wid, id) -> (TGeom.valueAt(v, java.time.Instant.ofEpochSecond(
        at)), TGeom.print(v))
      assert(want.size >= 2, "the windows should match trips")
      val got = rows.map(r => (r.getInt(0), r.getLong(1)) ->
        (Option(r.getAs[Row]("p")).map(p => (p.getDouble(0), p.getDouble(1))),
          r.getAs[String]("wkt"))).toMap
      assert(got == want.toMap)
      assert(got.values.exists(_._1.isDefined))
    }
  }
}
