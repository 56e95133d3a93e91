package graft

import java.time.Instant

import org.apache.spark.sql.Row
import org.scalacheck.Gen

import graft.meos.{TGeom, Temporal}
import graft.meos.TGeom.{GInst, GSeq, Val}

/** Test-side temporal values: a bounded generator of [[TGeom.Val]] and a
  * driver-side reading of a collected trip struct, both independent of
  * the native codec they check. */
object TripVals {

  private def instOf(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  private def us(iso: String): Long = {
    val t = Instant.parse(iso)
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** America/New_York DST switches (UTC instants) and the PG epoch. */
  private val edges = Seq("2021-03-14T07:00:00Z", "2021-11-07T06:00:00Z",
    "1999-10-31T06:00:00Z", "2000-01-01T00:00:00Z").map(us)

  /** µs since the Unix epoch: pre-1970 and pre-2000 (negative PG µs),
    * within a second of a DST switch or the PG epoch, or anywhere in
    * 1900–2100, with sub-second digits of any length. */
  val genUs: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(us("1900-01-01T00:00:00Z"), us("2100-01-01T00:00:00Z")),
    2 -> Gen.choose(us("1900-01-01T00:00:00Z"), us("1999-12-31T23:59:59Z"))
      .map(_ / 1000000L * 1000000L),
    3 -> (for {
      e <- Gen.oneOf(edges)
      d <- Gen.oneOf(Gen.choose(-1000000L, 1000000L),
        Gen.choose(-3600L, 3600L).map(_ * 1000000L))
    } yield e + d))

  private def genInsts(n: Int, hasZ: Boolean): Gen[Seq[GInst]] = for {
    ts <- Gen.listOfN(n, genUs)
    xs <- Gen.listOfN(n, Gen.choose(-180.0, 180.0))
    ys <- Gen.listOfN(n, Gen.choose(-90.0, 90.0))
    zs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
  } yield ts.distinct.sorted.zip(xs.zip(ys).zip(zs)).map {
    case (t, ((x, y), z)) =>
      GInst(instOf(t), x, y, if (hasZ) Some(z) else None)
  }

  private def genSeq(interp: Int, hasZ: Boolean, n: Gen[Int]): Gen[GSeq] =
    for {
      k <- n
      insts <- genInsts(k, hasZ)
      lo <- Gen.oneOf(true, false)
      hi <- Gen.oneOf(true, false)
    } yield
      if (interp == Temporal.InterpDiscrete)
        GSeq(insts, interp, `lower_inc` = true, `upper_inc` = true)
      else GSeq(insts, interp, lo, hi)

  /** Instants, sequences (discrete, step, linear; open and closed bounds)
    * and sequence sets (step, linear), 2-D or Z throughout, SRID 0 or
    * 4326 — at most 4 sequences of at most 6 instants. */
  val genVal: Gen[Val] = for {
    hasZ <- Gen.oneOf(false, true)
    srid <- Gen.oneOf(0, 4326)
    subtype <- Gen.oneOf(TGeom.SubInstant, TGeom.SubSequence,
      TGeom.SubSequenceSet)
    v <- subtype match {
      case TGeom.SubInstant =>
        genInsts(1, hasZ).map(i => Val(subtype, srid, Temporal.InterpNone,
          Seq(GSeq(i, Temporal.InterpNone, `lower_inc` = true,
            `upper_inc` = true))))
      case TGeom.SubSequence =>
        for {
          interp <- Gen.oneOf(Temporal.InterpDiscrete, Temporal.InterpStep,
            Temporal.InterpLinear)
          q <- genSeq(interp, hasZ, Gen.choose(1, 6))
        } yield Val(subtype, srid, interp, Seq(q))
      case _ =>
        for {
          interp <- Gen.oneOf(Temporal.InterpStep, Temporal.InterpLinear)
          n <- Gen.choose(1, 4)
          qs <- Gen.listOfN(n, genSeq(interp, hasZ, Gen.choose(1, 4)))
        } yield Val(subtype, srid, interp, qs)
    }
  } yield v

  /** Timestamps worth asking a value for: each instant, 1 µs either side,
    * midpoints, and points outside the value's span. */
  def probes(v: Val): Seq[Long] = {
    val ts = v.sequences.flatMap(_.instants).map(i =>
      i.t.getEpochSecond * 1000000L + i.t.getNano / 1000).sorted
    val mids = ts.zip(ts.drop(1)).map { case (a, b) => a + (b - a) / 2 }
    (ts ++ ts.map(_ - 1) ++ ts.map(_ + 1) ++ mids ++
      Seq(ts.head - 86400000000L, ts.last + 86400000000L)).distinct
  }

  /** A collected trip struct as a [[Val]], read by field name; `z` may
    * be absent (the 2-D assembly shape) or null. */
  def ofRow(r: Row): Val = {
    def inst(i: Row): GInst = GInst(
      i.getAs[java.sql.Timestamp]("t").toInstant, i.getAs[Double]("x"),
      i.getAs[Double]("y"),
      if (!i.schema.fieldNames.contains("z") || i.isNullAt(i.fieldIndex("z")))
        None
      else Some(i.getAs[Double]("z")))
    def seq(q: Row): GSeq = GSeq(
      q.getAs[scala.collection.Seq[Row]]("instants").map(inst).toSeq,
      q.getAs[Int]("interp"), q.getAs[Boolean]("lower_inc"),
      q.getAs[Boolean]("upper_inc"))
    Val(r.getAs[Int]("subtype"), r.getAs[Int]("srid"), r.getAs[Int]("interp"),
      r.getAs[scala.collection.Seq[Row]]("sequences").map(seq).toSeq)
  }
}
