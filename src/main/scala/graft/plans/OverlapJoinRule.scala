package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType, TimestampType}

/** Auto-rewrite of box-overlap theta joins (SURVEY §4.2's "range-join
  * rule", the optimizer-rule leg of J2 — `overlaps_tbox_tbox`, the
  * reference's `meos/src/tbox.rs:104-106`), so the SQL spelling of an
  * interval-overlap join gets a scalable plan instead of a
  * BroadcastNestedLoopJoin / cartesian product.
  *
  * Pattern: an inner join whose condition carries a pair of
  * opposite-direction `<=` conjuncts over timestamps from opposite sides —
  *
  * {{{  l.tmin <= r.tmax AND r.tmin <= l.tmax  (AND anything else) }}}
  *
  * Any such pair IS an interval overlap of the derived intervals
  * [l.tmin, l.tmax] × [r.tmin, r.tmax], whatever the columns are named.
  * Interval bounds are `least/greatest`-normalized per side first, which
  * keeps even degenerate (lo > hi) rows correct. Both forms only choose
  * which pairs meet; the original condition stays the exact post-filter,
  * so the rewrite is output-identical, duplicates included. Neither form
  * broadcasts anything.
  *
  *  - *in-stage*: when one side (the right one if both qualify) is a
  *    deterministic, non-streaming `LocalRelation` (a literal probe set,
  *    e.g. windows from `createDataFrame`), whatever its size or time
  *    spread, its rows' bounds are evaluated at plan time with the
  *    expressions the plan runs, rows with no bound are dropped, and the
  *    rest, sorted by lower bound, go into one [[ProbeCandidates]]
  *    expression. The join becomes a `Generate(Inline(candidates))` over
  *    the wide side: each wide row meets the probe rows whose interval
  *    reaches its own, in the wide side's scan stage. Nothing is
  *    shuffled, and the probe rows travel with the plan;
  *  - *symmetric*: otherwise each side is exploded over every fixed-width
  *    time bucket its interval covers, the two sides equi-join on the
  *    bucket id, and a canonical-bucket predicate keeps the pair only in
  *    the bucket containing `greatest(l.lo, r.lo)` (both intervals
  *    contain the larger of the two lower bounds), so it needs no dedup.
  *    Each row is shuffled once per bucket it spans.
  *
  * Guards:
  *  - inner/cross joins only (a dropped row can never have satisfied the
  *    original condition — safe to lose under inner semantics);
  *  - skips joins that already have a cross-side equi conjunct (hash join
  *    already applies; also makes the rule a no-op on its own output);
  *  - skips when either side's estimated size fits the broadcast
  *    threshold — a broadcast nested-loop over a small build side is
  *    already acceptable;
  *  - `spark.graft.overlapJoin.enabled` (default true) switches it off,
  *    `spark.graft.overlapJoin.bucketWidthSeconds` (default 604800 = 7
  *    days, q15's width) sets the symmetric form's bucket size —
  *    data-dependent width selection belongs to the API path, an
  *    optimizer rule must stay side-effect free.
  */
object OverlapJoinRule extends Rule[LogicalPlan] {

  private val EnabledKey = "spark.graft.overlapJoin.enabled"
  private val WidthKey = "spark.graft.overlapJoin.bucketWidthSeconds"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    val widthUs =
      conf.getConfString(WidthKey, "604800").toLong * 1000000L
    plan.transform {
      case j @ Join(l, r, Inner | Cross, Some(cond), _)
          if eligible(j, l, r, cond) =>
        rewrite(j, l, r, cond, widthUs)
    }
  }

  /** Conjuncts of form `x <= y` with x, y wholly from opposite sides and
    * both timestamp-typed, returned as (leftExpr, rightExpr, leftIsLo). */
  private def timePairs(conjuncts: Seq[Expression], l: LogicalPlan,
                        r: LogicalPlan)
      : Seq[(Expression, Expression, Boolean)] =
    conjuncts.collect {
      case LessThanOrEqual(a, b)
          if a.dataType == TimestampType && b.dataType == TimestampType &&
            a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(l.outputSet) &&
            b.references.subsetOf(r.outputSet) =>
        (a, b, true) // l.lo <= r.hi
      case LessThanOrEqual(a, b)
          if a.dataType == TimestampType && b.dataType == TimestampType &&
            a.references.nonEmpty && b.references.nonEmpty &&
            a.references.subsetOf(r.outputSet) &&
            b.references.subsetOf(l.outputSet) =>
        (b, a, false) // r.lo <= l.hi
    }

  private def eligible(j: Join, l: LogicalPlan, r: LogicalPlan,
                       cond: Expression): Boolean = {
    val conjuncts = splitConjuncts(cond)
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(l.outputSet) &&
          b.references.subsetOf(r.outputSet)) ||
          (a.references.subsetOf(r.outputSet) &&
            b.references.subsetOf(l.outputSet))
      case _ => false
    }
    val pairs = timePairs(conjuncts, l, r)
    val broadcastable = {
      val t = conf.autoBroadcastJoinThreshold
      t > 0 && (l.stats.sizeInBytes <= t || r.stats.sizeInBytes <= t)
    }
    !hasEqui && !broadcastable &&
      pairs.exists(_._3) && pairs.exists(!_._3)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** One side of the join with its `least/greatest`-normalized interval. */
  private final case class Side(plan: LogicalPlan, lo: Expression,
                                hi: Expression)

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                      cond: Expression, widthUs: Long): LogicalPlan = {
    val pairs = timePairs(splitConjuncts(cond), l, r)
    // first opposite-direction pair: l.lo <= r.hi with r.lo <= l.hi
    val (lLo, rHi, _) = pairs.find(_._3).get
    val (lHi, rLo, _) = pairs.find(!_._3).get
    val sl = Side(l, Least(Seq(lLo, lHi)), Greatest(Seq(lLo, lHi)))
    val sr = Side(r, Least(Seq(rLo, rHi)), Greatest(Seq(rLo, rHi)))

    val inStage = Seq(sr -> sl, sl -> sr).collectFirst {
      case (probe @ Side(rel: LocalRelation, lo, hi), wide) if
          !rel.isStreaming && lo.deterministic && hi.deterministic =>
        Filter(cond, Generate(Inline(candidates(rel, probe, wide)), Nil,
          outer = false, None, rel.output, wide.plan))
    }
    Project(j.output, inStage.getOrElse {
      val w = Literal(widthUs, LongType)
      def bucketOf(e: Expression): Expression =
        IntegralDivide(UnixMicros(e), w)
      // Sequence is TimeZoneAwareExpression: without an explicit
      // timeZoneId it reports unresolved even over longs
      def exploded(s: Side, name: String): (LogicalPlan, Attribute) = {
        val attr = AttributeReference(name, LongType, nullable = false)()
        (Generate(Explode(new Sequence(bucketOf(s.lo), bucketOf(s.hi), None,
          Some(conf.sessionLocalTimeZone))), Nil, outer = false, None,
          Seq(attr), s.plan), attr)
      }
      val (genL, bL) = exploded(sl, "__graft_bucket_l")
      val (genR, bR) = exploded(sr, "__graft_bucket_r")
      // each qualifying pair meets in every bucket both intervals cover,
      // and is kept in the one holding the larger of the two starts
      val keys = And(EqualTo(bL, bR),
        EqualTo(bL, bucketOf(Greatest(Seq(sl.lo, sr.lo)))))
      Join(genL, genR, Inner, Some(And(keys, cond)), j.hint)
    })
  }

  /** The in-stage form's candidates for `wide`'s rows from `probe`, whose
    * plan is the literal `rel`. The bounds are evaluated here with the
    * same expressions the plan runs, so a dropped row is one the plan
    * could not match. */
  private def candidates(rel: LocalRelation, probe: Side,
                         wide: Side): ProbeCandidates = {
    def eval(e: Expression): InternalRow => Any =
      BindReferences.bindReference(e, rel.output).eval(_)
    val (lo, hi) = (eval(probe.lo), eval(probe.hi))
    // least/greatest are null only when both bounds are
    val kept = rel.data.flatMap(row => (lo(row), hi(row)) match {
      case (a: Long, b: Long) => Some((a, b, row))
      case _ => None
    }).sortBy(_._1)
    ProbeCandidates(wide.lo, wide.hi, kept, rel.schema)
  }
}

/** The in-stage form's candidate set: the probe rows, sorted by lower
  * bound, whose `[lo, hi]` overlaps the wide row's. The sorted rows form
  * an implicit balanced tree (a range's middle row is its root) whose
  * nodes hold the largest upper bound below them, so a wide row with k
  * candidates among n rows costs O((k + 1) log n). The rows are a plan
  * constant that generated code reads from its references instead of
  * inlining, so a new probe set compiles no new class. */
private[graft] final case class ProbeCandidates(
    lo: Expression, hi: Expression, probe: Seq[(Long, Long, InternalRow)],
    schema: StructType) extends BinaryExpression {
  override def left: Expression = lo
  override def right: Expression = hi
  override def dataType: DataType = ArrayType(schema, containsNull = false)
  override def toString: String =
    s"probe_candidates($lo, $hi, ${probe.size} rows)"

  private lazy val rows = probe.map(_._3).toArray[Any]
  private lazy val los = probe.map(_._1).toArray
  private lazy val his = probe.map(_._2).toArray
  /** `reach(m)`: the largest upper bound of the range whose root is m. */
  private lazy val reach = {
    val r = new Array[Long](his.length)
    def build(a: Int, b: Int): Long = if (a >= b) Long.MinValue else {
      val m = (a + b) >>> 1
      r(m) = math.max(his(m), math.max(build(a, m), build(m + 1, b)))
      r(m)
    }
    build(0, his.length)
    r
  }

  /** Calls `hit` on each row overlapping `[l, h]`, in lower-bound order,
    * and returns the number of tree nodes the search looked at. */
  private[graft] def search(l: Long, h: Long)(hit: Int => Unit): Int = {
    var seen = 0
    def visit(a: Int, b: Int): Unit = if (a < b) {
      val m = (a + b) >>> 1
      seen += 1
      if (reach(m) >= l) {
        visit(a, m)
        if (los(m) <= h) {
          if (his(m) >= l) hit(m)
          visit(m + 1, b)
        }
      }
    }
    visit(0, los.length)
    seen
  }

  def candidates(l: Long, h: Long): ArrayData = {
    val out = Array.newBuilder[Any]
    search(l, h)(out += rows(_))
    new GenericArrayData(out.result())
  }

  override protected def nullSafeEval(l: Any, h: Any): Any =
    candidates(l.asInstanceOf[Long], h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probe", this)
    defineCodeGen(ctx, ev, (l, h) => s"$ref.candidates($l, $h)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProbeCandidates =
    copy(lo = newLeft, hi = newRight)
}
