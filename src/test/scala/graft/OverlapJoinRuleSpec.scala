package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Explode, Inline, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.plans.ProbeCandidates

/** The injected optimizer rule turns the SQL spelling of a box-overlap
  * theta join (J2's conjunction pattern) into a plan with no
  * nested-loop/cartesian join, with output identical to the naive plan,
  * in its in-stage form (a literal probe side joined inside the wide
  * side's stage) and its symmetric form (the bucketed equi-join). */
class OverlapJoinRuleSpec extends SparkTestBase {

  private object aqe extends AdaptiveSparkPlanHelper

  private def withExtSession(f: SparkSession => Unit): Unit = {
    spark // force the shared session/context up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        // force the non-broadcast path so the rule (not BNLJ-broadcast)
        // must handle the theta join
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try f(s2)
      finally s2.conf.set("spark.graft.overlapJoin.enabled", "true")
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  private def boxesSql(s: SparkSession): Unit = {
    Tables.events(s, sfDir)
      .groupBy("user_id")
      .agg(graft.meos.Boxes.tboxAgg(
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("ts")).as("box"))
      .selectExpr("user_id AS id", "box.vmin vmin", "box.vmax vmax",
        "box.tmin tmin", "box.tmax tmax")
      .createOrReplaceTempView("boxes")
  }

  private val OverlapSql =
    """SELECT a.id AS u1, b.id AS u2
      |FROM boxes a JOIN boxes b
      |  ON a.tmin <= b.tmax AND b.tmin <= a.tmax
      | AND a.vmin <= b.vmax AND b.vmin <= a.vmax
      | AND a.id < b.id
      |ORDER BY u1, u2""".stripMargin

  test("SQL overlap join gets the bucketed plan, not a nested loop") {
    withExtSession { s =>
      boxesSql(s)
      s.conf.set("spark.graft.overlapJoin.bucketWidthSeconds",
        7L * 24 * 3600)
      val df = s.sql(OverlapSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"expected bucketed equi-join, got:\n$plan")
      assert(plan.contains("Generate explode"),
        s"expected bucket explode in plan:\n$plan")

      // output identical to the rule-disabled naive plan
      val fast = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      s.conf.set("spark.graft.overlapJoin.enabled", "false")
      val naive = s.sql(OverlapSql).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fast == naive)
      assert(fast.nonEmpty)
    }
  }

  test("rule keeps duplicate rows faithfully (no dedup distortion)") {
    withExtSession { s =>
      import s.implicits._
      // two identical left rows must each pair with the match, and a pair
      // overlapping over several buckets must appear exactly once,
      // matching inner-join multiset semantics (both sides are literal,
      // so this is the in-stage form)
      Seq((1L, "2024-01-01 00:00:00", "2024-03-01 00:00:00"),
          (1L, "2024-01-01 00:00:00", "2024-03-01 00:00:00"),
          (2L, "2024-01-15 00:00:00", "2024-02-15 00:00:00"))
        .toDF("id", "lo", "hi")
        .selectExpr("id", "CAST(lo AS TIMESTAMP) tmin",
          "CAST(hi AS TIMESTAMP) tmax")
        .createOrReplaceTempView("iv")
      s.conf.set("spark.graft.overlapJoin.bucketWidthSeconds", 24L * 3600)
      val rows = s.sql(
        """SELECT a.id, b.id FROM iv a JOIN iv b
          |ON a.tmin <= b.tmax AND b.tmin <= a.tmax AND a.id < b.id
          |""".stripMargin)
      val plan = rows.queryExecution.executedPlan.toString
      assert(plan.contains("Generate") &&
        !plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"rule did not fire:\n$plan")
      val got = rows.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        .sorted
      assert(got == Seq((1L, 2L), (1L, 2L)))
    }
  }

  private val WidthKey = "spark.graft.overlapJoin.bucketWidthSeconds"
  private val EnabledKey = "spark.graft.overlapJoin.enabled"

  /** The bucket explodes of the symmetric form in `df`'s optimized plan. */
  private def bucketExplodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case g @ Generate(_: Explode, _, _, _, _, _)
          if g.generatorOutput.exists(_.name.startsWith("__graft_bucket_")) =>
        g
    }.size

  /** Whether `df`'s optimized plan is the in-stage form: the probe rows
    * inlined over the wide side, with no join and no bucket explode left. */
  private def inStage(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.collect { case _: Join => () }.isEmpty && bucketExplodes(df) == 0 &&
      p.collect { case Generate(_: Inline, _, _, _, _, _) => () }.size == 1
  }

  private val IvSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("lo", LongType), StructField("hi", LongType)))

  /** (id, lo µs, hi µs) rows as an interval frame: a `LocalRelation` after
    * optimization when `literal`, an RDD scan otherwise. */
  private def intervals(s: SparkSession, rows: Seq[Row],
                        literal: Boolean): DataFrame = {
    val raw =
      if (literal) s.createDataFrame(rows.asJava, IvSchema)
      else s.createDataFrame(s.sparkContext.parallelize(rows, 2), IvSchema)
    raw.select(col("id"), timestamp_micros(col("lo")).as("lo"),
      timestamp_micros(col("hi")).as("hi"))
  }

  private def overlapJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, a("lo") <= b("hi") && b("lo") <= a("hi"))
      .select(a("id"), b("id"), a("lo"), a("hi"), b("lo"), b("hi"))

  /** The join's rows with the rule on, and with it off (the nested loop),
    * as sorted multisets; `check` sees the rewritten frame first. */
  private def bothWays(s: SparkSession, q: () => DataFrame)(
      check: DataFrame => Unit): (Seq[String], Seq[String]) = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val on = q()
    check(on)
    val fast = rows(on)
    s.conf.set(EnabledKey, "false")
    try {
      val off = q()
      assert(bucketExplodes(off) == 0 && !inStage(off))
      (fast, rows(off))
    } finally s.conf.set(EnabledKey, "true")
  }

  private val H = 3600L * 1000000L
  private val t0 = 1700000000L * 1000000L

  /** `n` wide rows of 3 hours each, two hours apart, from a range. */
  private def rangeRows(s: SparkSession, n: Int): DataFrame =
    s.range(0, n).select(col("id").cast("int").as("id"),
      timestamp_micros(col("id") * 2 * H + t0).as("lo"),
      timestamp_micros(col("id") * 2 * H + t0 + 3 * H).as("hi"))

  test("a far literal window runs in-stage: the form does not follow the " +
    "probe's time spread") {
    withExtSession { s =>
      s.conf.set(WidthKey, 3600L)
      val near = Row(1, t0 + H, t0 + H + 60000000L)
      // a window ~24 years earlier, ~200k hour buckets before the rest
      val far = Row(2, 946684800L * 1000000L, 946684800L * 1000000L + H)
      for (probe <- Seq(Seq(near, far), Seq(near))) {
        val (fast, naive) = bothWays(s, () =>
          overlapJoin(intervals(s, probe, literal = true), rangeRows(s, 40))) {
          df => assert(inStage(df), df.queryExecution.optimizedPlan)
        }
        assert(fast == naive)
        assert(fast.size == 1, fast)
      }
    }
  }

  test("a long early window among many short ones: the candidate search " +
    "visits O((k + 1) log n) rows, and a heavier probe still runs in-stage") {
    // one window over the whole period, then 2,000 one-microsecond ones an
    // hour apart: a running maximum of the ends would reach every late
    // wide row and leave it to walk every window that starts before it
    val n = 2001
    val probe = Row(0, t0, t0 + n * H) +:
      (1 until n).map(k => Row(k, t0 + k * H, t0 + k * H + 1))
    val pc = ProbeCandidates(Literal(0L), Literal(0L), probe.map { r =>
      (r.getLong(1), r.getLong(2), InternalRow(r.getInt(0)))
    }, IvSchema)
    val depth = 32 - Integer.numberOfLeadingZeros(n)
    val rnd = new scala.util.Random(7)
    val late = t0 + (n - 11) * H
    val queries = Seq((late, late), (late - H / 2, late + H / 2),
      (t0 - H, t0 - 1), (t0 + (n + 1) * H, t0 + (n + 2) * H)) ++
      Seq.fill(200) {
        val l = t0 + (rnd.nextDouble() * (n + 2) * H).toLong - H
        (l, l + (rnd.nextDouble() * 4 * H).toLong)
      }
    for ((l, h) <- queries) {
      val hits = Seq.newBuilder[Int]
      val seen = pc.search(l, h)(hits += _)
      val want = probe.indices.filter(i =>
        probe(i).getLong(1) <= h && probe(i).getLong(2) >= l)
      assert(hits.result() == want, (l, h))
      assert(seen <= 1 + 2 * (want.size + 2) * depth,
        s"[$l, $h]: $seen nodes for ${want.size} of $n rows")
    }
    // the same windows, far heavier than a 4-row wide side, run in-stage
    withExtSession { s =>
      s.conf.set(WidthKey, 3600L)
      val (fast, naive) = bothWays(s, () =>
        overlapJoin(intervals(s, probe, literal = true), rangeRows(s, 4))) {
        df => assert(inStage(df), df.queryExecution.optimizedPlan)
      }
      assert(fast == naive)
      // the long window meets all 4 wide rows, the short ones 15 pairs
      assert(fast.size == 4 + 15, fast)
    }
  }

  test("a literal probe over a long history runs in the wide side's " +
    "stage: no exchange, and only overlapping rows become candidates") {
    withExtSession { s =>
      s.conf.set(WidthKey, 3600L)
      // a long history: 300 one-hour rows ending at least an hour before
      // the first window, and 5 with no bounds ...
      val history = (0 until 300).map(k =>
        Row(k, t0 - (k + 3) * H, t0 - (k + 2) * H))
      val unbounded = (300 until 305).map(k => Row(k, null, null))
      // ... then one row straddling the first window's start, one ending
      // exactly there, one inside the windows and one after the short ones
      val recent = Seq(Row(400, t0 - 5 * H, t0 + H / 2), Row(401, t0 - H, t0),
        Row(402, t0 + 2 * H, t0 + 2 * H), Row(403, t0 + 9 * H, t0 + 10 * H))
      // two short windows and a long one: the row after the short ones'
      // ends meets only the long one
      val windows = Seq(Row(1000, t0, t0 + H),
        Row(1001, t0 + 2 * H, t0 + 3 * H), Row(1002, t0, t0 + 12 * H))
      def q(): DataFrame = overlapJoin(intervals(s, windows, literal = true),
        intervals(s, history ++ unbounded ++ recent, literal = false))
      val (fast, naive) = bothWays(s, () => q()) { df =>
        assert(inStage(df), df.queryExecution.optimizedPlan)
      }
      assert(fast == naive)
      assert(fast.size == 7, fast)
      val df = q()
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        plan)
      val candidates = aqe.collect(plan) {
        case g: GenerateExec => g.metrics("numOutputRows").value
      }
      assert(candidates == Seq(fast.size.toLong), plan)
    }
  }

  test("property: the rewrite equals the nested-loop join in both forms " +
    "(degenerate, point, null, duplicate, pre-1970 and bucket-edge " +
    "bounds)") {
    // literal probe sides run the in-stage form, computed ones the
    // symmetric form; the cases alternate interpreted and generated code
    withExtSession { s =>
      s.conf.set(WidthKey, 3600L)
      val rnd = new scala.util.Random(20240601)
      // pre-1970 (IntegralDivide truncates toward zero there), the epoch
      // and 2024
      val bases = Seq(-3 * H - H / 2, -H, 0L, 1704067200L * 1000000L)
      def t(base: Long): Long = rnd.nextInt(4) match {
        case 0 => base + (rnd.nextInt(9) - 4) * H + (rnd.nextInt(3) - 1)
        case _ => base + (rnd.nextDouble() * 8 * H).toLong - 4 * H
      }
      def bound(v: Long): Any = if (rnd.nextInt(10) == 0) null else v
      def table(n: Int, id0: Int): Seq[Row] = {
        val out = Seq.newBuilder[Row]
        var prev: Row = null
        (0 until n).foreach { k =>
          val row =
            if (prev != null && rnd.nextInt(6) == 0) prev // a duplicate
            else {
              val lo = t(bases(rnd.nextInt(bases.size)))
              val hi = rnd.nextInt(6) match {
                case 0 => lo // a point
                case 1 => lo - (rnd.nextDouble() * 2 * H).toLong // lo > hi
                case _ => lo + (rnd.nextDouble() * 3 * H).toLong
              }
              Row(id0 + k, bound(lo), bound(hi))
            }
          out += row
          prev = row
        }
        out.result()
      }
      val deadline = System.nanoTime() + 90L * 1000000000L
      var cases = 0
      // what the in-stage cases covered, per evaluation mode
      val covered = scala.collection.mutable.Set.empty[(String, String)]
      while (cases < 24 && System.nanoTime() < deadline) {
        val literal = cases % 3 != 2
        val probeLeft = cases % 2 == 0
        val mode = Modes(cases / 2 % 2)
        val probe = {
          val rows = table(1 + rnd.nextInt(6), 1000)
          if (cases % 5 == 0) rows :+ rows.head else rows
        }
        val wide = table(5 + rnd.nextInt(30), 0)
        def q(): DataFrame = {
          val p = intervals(s, probe, literal)
          val w = intervals(s, wide, literal = false)
          if (probeLeft) overlapJoin(p, w) else overlapJoin(w, p)
        }
        val (fast, naive) = inMode(mode, s) {
          bothWays(s, () => q()) { df =>
            assert(inStage(df) == literal, df.queryExecution.optimizedPlan)
            assert(bucketExplodes(df) == (if (literal) 0 else 2),
              df.queryExecution.optimizedPlan)
          }
        }
        assert(fast == naive, s"case $cases ($mode): probe $probe wide $wide")
        if (literal) {
          def has(f: (Long, Long) => Boolean) = probe.exists(r =>
            !r.isNullAt(1) && !r.isNullAt(2) && f(r.getLong(1), r.getLong(2)))
          Seq("duplicate" -> (probe.distinct.size < probe.size),
            "null" -> probe.exists(r => r.isNullAt(1) || r.isNullAt(2)),
            "point" -> has(_ == _), "degenerate" -> has(_ > _)
          ).collect { case (what, true) => covered += what -> mode }
        }
        cases += 1
      }
      val want = for (what <- Seq("duplicate", "null", "point", "degenerate");
                      mode <- Modes) yield what -> mode
      assert(want.forall(covered), s"$cases cases ran, covering $covered")
    }
  }
}
