package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Auto-rewrite of box-overlap theta joins (SURVEY §4.2's "range-join
  * rule", the optimizer-rule leg of J2 — `overlaps_tbox_tbox`,
  * `/root/reference/meos/src/tbox.rs:104-106`) into the bucketed
  * equi-join shape of [[graft.meos.Boxes.tboxOverlapJoinBucketed]], so the
  * SQL spelling of an interval-overlap join gets the same scalable plan as
  * the API path instead of a BroadcastNestedLoopJoin / cartesian product.
  *
  * Pattern: an inner join whose condition carries a pair of
  * opposite-direction `<=` conjuncts over timestamps from opposite sides —
  *
  * {{{  l.tmin <= r.tmax AND r.tmin <= l.tmax  (AND anything else) }}}
  *
  * Any such pair IS an interval overlap of the derived intervals
  * [l.tmin, l.tmax] × [r.tmin, r.tmax], whatever the columns are named.
  * The rewrite explodes each side into fixed-width time buckets and
  * equi-joins on the bucket id, keeping every other conjunct (including
  * the time pair itself) as the exact post-join predicate — so the
  * rewrite is output-identical, it only changes HOW candidates meet: a
  * shuffle on ints instead of |L|×|R|. Interval bounds are
  * `least/greatest`-normalized per side first, which keeps even
  * degenerate (lo > hi) rows correct. Each qualifying pair meets in
  * exactly ONE bucket, so the rewrite needs NO dedup and preserves
  * duplicate input rows faithfully. It has two forms:
  *
  *  - *anchored*: when one side is a `LocalRelation` (a literal probe set,
  *    e.g. a handful of windows from `createDataFrame`), its normalized
  *    lower bounds are evaluated at plan time and the earliest, L, becomes
  *    a plan constant ([[AnchorLiteral]]). Wide-side rows that end before
  *    L are dropped (no probe row reaches them); each other wide row goes
  *    to the ONE bucket `bucket(greatest(lo, L))`, and each probe row is
  *    exploded over `[bucket(L), bucket(hi)]`. An overlapping pair meets
  *    there because `greatest(wide.lo, L)` lies in `[L, probe.hi]`
  *    whenever the two intervals overlap. The wide side is shuffled once
  *    per row instead of once per bucket it spans;
  *  - *symmetric*: otherwise each side is exploded over every bucket its
  *    interval covers, and a canonical-bucket predicate keeps the pair
  *    only in the bucket containing `greatest(l.lo, r.lo)` (both
  *    intervals contain the larger of the two lower bounds).
  *
  * What the anchored form saves is the wide rows' span in buckets, which
  * is unknown at plan time (it would take a scan of the wide side). What
  * it costs is the probe's span: every probe row is copied from bucket(L)
  * on, so one early probe row makes every later one long. That cost is
  * counted exactly at plan time, and the anchored form is taken only when
  * the replicated probe rows take no more bytes than the wide side's
  * `stats.sizeInBytes`. The symmetric form ships every wide row with a
  * bound at least once, and the anchored form ships each wide row it
  * keeps exactly once, so the anchored form's shuffle is at most the
  * symmetric form's plus the wide side's size. Otherwise (a probe spread
  * over far more buckets than the wide side weighs, or no literal side)
  * the symmetric form runs. Neither form broadcasts anything.
  *
  * Guards:
  *  - inner/cross joins only (a null or dropped bucket row can never have
  *    satisfied the original condition — safe to lose under inner
  *    semantics);
  *  - skips joins that already have a cross-side equi conjunct (hash join
  *    already applies; also makes the rule a no-op on its own output);
  *  - skips when either side's estimated size fits the broadcast
  *    threshold — a broadcast nested-loop over a small build side is
  *    already acceptable, and the rewrite would force a shuffle;
  *  - the anchored form only for a deterministic, non-streaming
  *    `LocalRelation` probe side with at least one non-null bound, whose
  *    per-row bucket ranges each fit in an array;
  *  - `spark.graft.overlapJoin.enabled` (default true) switches it off,
  *    `spark.graft.overlapJoin.bucketWidthSeconds` (default 604800 = 7
  *    days, q15's width) sets the bucket size — data-dependent width
  *    selection belongs to the API path, an optimizer rule must stay
  *    side-effect free.
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

    val w = Literal(widthUs, LongType)
    def bucketOf(e: Expression): Expression =
      IntegralDivide(UnixMicros(e), w)

    // the anchored form's probe side and its earliest lower bound, if a
    // literal side makes it the cheaper copy
    val anchor = Seq(sr -> l, sl -> r).iterator.flatMap {
      case (probe, wide) => anchorOf(probe, wide, bucketOf).map(probe -> _)
    }.nextOption()

    // the rows of a side and the bucket range each is exploded over. The
    // anchored form drops wide rows that end before L: every probe row
    // starts at or after L, so they match nothing, and in bucket(L) they
    // would meet every probe row
    def range(s: Side): (LogicalPlan, Expression, Expression) = anchor match {
      case None => (s.plan, bucketOf(s.lo), bucketOf(s.hi))
      case Some((probe, at)) if probe eq s =>
        (s.plan, bucketOf(at), bucketOf(s.hi))
      case Some((_, at)) =>
        val b = bucketOf(Greatest(Seq(s.lo, at)))
        (Filter(GreaterThanOrEqual(s.hi, at), s.plan), b, b)
    }
    // Sequence is TimeZoneAwareExpression: without an explicit timeZoneId
    // it reports unresolved even over longs
    def exploded(s: Side, name: String): (LogicalPlan, Attribute) = {
      val attr = AttributeReference(name, LongType, nullable = false)()
      val (rows, from, to) = range(s)
      (Generate(Explode(new Sequence(from, to, None,
        Some(conf.sessionLocalTimeZone))), Nil, outer = false, None,
        Seq(attr), rows), attr)
    }

    val (genL, bL) = exploded(sl, "__graft_bucket_l")
    val (genR, bR) = exploded(sr, "__graft_bucket_r")
    // symmetric form: each qualifying pair meets in every bucket both
    // intervals cover, and is kept in the one holding the larger of the
    // two interval starts; the anchored form's wide row has one bucket
    val keys =
      if (anchor.isDefined) EqualTo(bL, bR)
      else And(EqualTo(bL, bR),
        EqualTo(bL, bucketOf(Greatest(Seq(sl.lo, sr.lo)))))
    Project(j.output, Join(genL, genR, Inner, Some(And(keys, cond)), j.hint))
  }

  /** The anchor L of the anchored form — the earliest normalized lower
    * bound of `probe`, as a timestamp constant — when `probe` is a
    * `LocalRelation` and its rows replicated over `[bucket(L),
    * bucket(hi)]` take no more bytes than `wide`'s estimate. The bounds
    * and bucket ids are evaluated here with the same expressions the plan
    * runs, so the plan-time count matches the rows the plan explodes. */
  private def anchorOf(probe: Side, wide: LogicalPlan,
                       bucketOf: Expression => Expression)
      : Option[Expression] = probe.plan match {
    case rel: LocalRelation if !rel.isStreaming &&
        probe.lo.deterministic && probe.hi.deterministic =>
      def eval(e: Expression): Seq[Any] = {
        val bound = BindReferences.bindReference(e, rel.output)
        rel.data.map(bound.eval(_))
      }
      val los = eval(probe.lo).collect { case t: Long => t }
      if (los.isEmpty) None
      else {
        val at = AnchorLiteral(los.min)
        val first = bucketOf(at).eval().asInstanceOf[Long]
        val rows = eval(bucketOf(probe.hi)).collect {
          case b: Long => b - first + 1
        }
        val perRow = EstimationUtils.getSizePerRow(rel.output) + 8
        val fits = rows.forall(_ <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
        Option.when(fits &&
          BigInt(rows.sum) * perRow <= wide.stats.sizeInBytes)(at)
      }
    case _ => None
  }
}

/** The anchored form's L: a timestamp constant that generated code reads
  * from its references instead of inlining. L changes with every probe
  * set, and an inlined value would make each query compile its stages
  * anew instead of reusing the classes generated for the last one. Not
  * foldable, so constant folding leaves it (and the bucket ids computed
  * from it) in place. */
private[plans] final case class AnchorLiteral(value: Long)
    extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("anchor", java.lang.Long.valueOf(value))
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}
