package graft.meos

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Trajectory assembly — the engine's flagship aggregate (SURVEY.md A6).
  *
  * The reference builds a trip per entity by folding posits into a
  * `TSeq::make(instants, lower_inc=true, upper_inc=true, LINEAR,
  * normalize=false)` (`meos/src/tseq.rs:49-64`; call sites
  * `meos/examples/04_to_file.rs:113`, `meos-polars/examples/ais_to_db.rs:199`),
  * after (a) dropping out-of-order posits (`04_to_file.rs:91-96`) and
  * (b) skipping consecutive duplicate timestamps (`ais_to_db.rs:181-184`),
  * optionally truncating at `max_trip_size` (`ais_to_db.rs:190-193`).
  *
  * Spark-first re-expression, in two forms over one kernel
  * ([[Runs.compact]]: sort by (t, tie) → keep the smallest tie per t →
  * cap):
  *  - single-phase: a typed `Aggregator` per key whose buffer is a bag of
  *    posits, with the kernel applied at `finish` ([[tfloatAssemble]],
  *    [[tpointAssemble]]);
  *  - by key, behind one exchange: one partial-aggregating
  *    `TypedImperativeAggregate` over primitive-column buffers
  *    ([[tfloatAssembleByKey]], [[tpointAssembleByKey]]).
  * Distribution semantics:
  *  - reduce/merge are order-insensitive (shuffle order never changes the
  *    result); determinism comes from sorting by (t, tie) where `tie` is a
  *    caller-supplied unique tiebreaker (e.g. event_id).
  *  - duplicate timestamps keep the smallest tiebreaker — the deterministic
  *    analog of the reference's "keep first seen" rule.
  *  - when `maxSize > 0` the buffer is trimmed to the `maxSize` earliest
  *    posits whenever it doubles past the cap, so per-key state stays O(max)
  *    even for mega-entities (the 100 TB skew posture; SURVEY.md §7.3).
  *
  * Output arrays are primitive (epoch-micros Long + Double) for compact
  * shuffles; `Assembly.tfloatSeq`/`tpointSeq` lift them to the public
  * sequence struct of [[Temporal]].
  */
object Assembly {

  // ---- tfloat (1-D value) -------------------------------------------------

  case class FPosit(t: Long, tie: Long, v: Double)
  case class FBuf(var ps: Vector[FPosit])
  case class FSeq(t: Array[Long], v: Array[Double], n: Long)

  class TFloatAssembler(maxSize: Int)
      extends Aggregator[FPosit, FBuf, FSeq] {
    def zero: FBuf = FBuf(Vector.empty)
    def reduce(b: FBuf, p: FPosit): FBuf = { b.ps :+= p; trim(b); b }
    def merge(a: FBuf, b: FBuf): FBuf = { a.ps ++= b.ps; trim(a); a }
    // mid-stream trim must apply the SAME dedupe as finish before taking
    // the cap: keeping maxSize raw rows could let duplicate timestamps
    // crowd out distinct ones that belong in the final earliest-maxSize
    private def trim(b: FBuf): Unit =
      if (maxSize > 0 && b.ps.length > 2 * maxSize) {
        val r = run(b.ps)
        b.ps = Vector.tabulate(r.n)(i => FPosit(r.t(i), r.tie(i), r.v(0)(i)))
      }
    def finish(b: FBuf): FSeq = {
      val r = run(b.ps)
      FSeq(java.util.Arrays.copyOf(r.t, r.n),
        java.util.Arrays.copyOf(r.v(0), r.n), r.n.toLong)
    }
    private def run(ps: Vector[FPosit]): Runs = {
      val r = new Runs(1)
      ps.foreach { p => val i = r.add(p.t, p.tie); r.v(0)(i) = p.v }
      r.compact(maxSize)
      r
    }
    def bufferEncoder: Encoder[FBuf] = Encoders.product[FBuf]
    def outputEncoder: Encoder[FSeq] = Encoders.product[FSeq]
  }

  /** Column form: tfloatAssemble(maxSize)(unix_micros(ts), tie, value). */
  def tfloatAssemble(maxSize: Int = 0) =
    udaf(new TFloatAssembler(maxSize))

  // ---- tgeompoint (2-D point) --------------------------------------------

  case class PPosit(t: Long, tie: Long, x: Double, y: Double)
  case class PBuf(var ps: Vector[PPosit])
  case class PSeq(t: Array[Long], x: Array[Double], y: Array[Double], n: Long)

  class TPointAssembler(maxSize: Int)
      extends Aggregator[PPosit, PBuf, PSeq] {
    def zero: PBuf = PBuf(Vector.empty)
    def reduce(b: PBuf, p: PPosit): PBuf = { b.ps :+= p; trim(b); b }
    def merge(a: PBuf, b: PBuf): PBuf = { a.ps ++= b.ps; trim(a); a }
    // see TFloatAssembler.trim: dedupe-then-cap, matching finish
    private def trim(b: PBuf): Unit =
      if (maxSize > 0 && b.ps.length > 2 * maxSize) {
        val r = run(b.ps)
        b.ps = Vector.tabulate(r.n)(i =>
          PPosit(r.t(i), r.tie(i), r.v(0)(i), r.v(1)(i)))
      }
    def finish(b: PBuf): PSeq = {
      val r = run(b.ps)
      PSeq(java.util.Arrays.copyOf(r.t, r.n),
        java.util.Arrays.copyOf(r.v(0), r.n),
        java.util.Arrays.copyOf(r.v(1), r.n), r.n.toLong)
    }
    private def run(ps: Vector[PPosit]): Runs = {
      val r = new Runs(2)
      ps.foreach { p =>
        val i = r.add(p.t, p.tie)
        r.v(0)(i) = p.x
        r.v(1)(i) = p.y
      }
      r.compact(maxSize)
      r
    }
    def bufferEncoder: Encoder[PBuf] = Encoders.product[PBuf]
    def outputEncoder: Encoder[PSeq] = Encoders.product[PSeq]
  }

  def tpointAssemble(maxSize: Int = 0) =
    udaf(new TPointAssembler(maxSize))

  // ---- keyed path: one partial-aggregating assembly ----------------------

  /** Assembly per key behind one exchange: one `TypedImperativeAggregate`
    * ([[AssembleTrip]]) over a buffer of primitive columns ([[Runs]]).
    * Spark's object-hash aggregate runs it map-side first: each input task
    * folds its posits of a key into one buffer, which is compacted into a
    * run — sorted by (t, tie), one posit per timestamp, the tiebreakers
    * kept — when it is serialized for the exchange. The reducer merges a
    * key's runs into its trip. One kernel ([[Runs.compact]]: sort →
    * smallest tie per t → cap) does the assembly on both sides of the
    * exchange. Identical output to single-phase assembly on EVERY input
    * (property-checked, duplicate timestamps included: a timestamp present
    * in several input partitions keeps the smallest tie, exactly like the
    * single-phase dedupe).
    *
    * A key's whole trip is assembled on one reducer, as its output row is
    * one value; `maxSize` is what bounds per-key state: every buffer is cut
    * to its earliest `maxSize` distinct-ts posits whenever it doubles past
    * the cap and when it is serialized (a superset of the global earliest
    * `maxSize`), so a map task holds O(maxSize) per key and the reducer
    * O(maxSize) per key, never O(hot-key history).
    *
    * `last` (an INT or BIGINT column, points only), when given, adds a
    * column `last`: that column's value on the posit with the greatest
    * (t, tie) — `max_by(last, struct(t, tie))` carried in the same buffer,
    * so a per-key last-value (the AIS vessel type) costs no second
    * aggregation. Null inputs read as the single-phase assembler reads
    * them: t and tie 0, values 0.0; in the (t, tie) order of `last` a null
    * sorts first, as in `max_by`.
    */
  def tfloatAssembleByKey(df: DataFrame, key: Column, t: Column,
                          tie: Column, v: Column,
                          maxSize: Int = 0): DataFrame =
    assembleByKey(df, key, t, tie, Seq("v" -> v), None, maxSize)

  /** 2-D (tgeompoint) variant of [[tfloatAssembleByKey]]; it also takes
    * the carried `last` column. */
  def tpointAssembleByKey(df: DataFrame, key: Column, t: Column,
                          tie: Column, x: Column, y: Column,
                          maxSize: Int = 0,
                          last: Option[Column] = None): DataFrame =
    assembleByKey(df, key, t, tie, Seq("x" -> x, "y" -> y), last, maxSize)

  private def assembleByKey(df: DataFrame, key: Column, t: Column,
                            tie: Column, values: Seq[(String, Column)],
                            last: Option[Column], maxSize: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims.{column, expression}
    val lastType = last.map(c => df.select(c).schema.head.dataType)
    val inputs = Seq(t.cast(LongType), tie.cast(LongType)) ++
      values.map(_._2.cast(DoubleType)) ++ last
    val trip = AssembleTrip(inputs.map(expression), values.map(_._1),
      lastType, maxSize)
    val trips = df.groupBy(key.as("k"))
      .agg(column(trip.toAggregateExpression()).as("s"))
    if (last.isEmpty) trips
    else trips.select(col("k"), col("s").dropFields("last").as("s"),
      col("s.last").as("last"))
  }

  /** The assembly buffer: growable primitive columns — timestamp,
    * tiebreaker, one or two values — plus the carried last value. Null
    * flags are kept only for the last value's order and value. */
  final class Runs(nValues: Int) {
    var n = 0
    var t = new Array[Long](4)
    var tie = new Array[Long](4)
    var v: Array[Array[Double]] = Array.fill(nValues)(new Array[Double](4))
    /** [0, n) is already a run: ascending t, one posit per t. */
    var isRun = true
    var hasLast = false
    var lastTSet, lastTieSet, lastSet = false
    var lastT, lastTie, lastV = 0L

    private def reserve(m: Int): Unit = if (m > t.length) {
      val cap = math.max(m, 2 * t.length)
      t = java.util.Arrays.copyOf(t, cap)
      tie = java.util.Arrays.copyOf(tie, cap)
      v = v.map(java.util.Arrays.copyOf(_, cap))
    }

    /** Appends a posit's (t, tie) and returns its index; the caller then
      * sets its values `v(k)(index)`. */
    def add(pt: Long, ptie: Long): Int = {
      reserve(n + 1)
      if (n > 0 && pt <= t(n - 1)) isRun = false
      t(n) = pt
      tie(n) = ptie
      n += 1
      n - 1
    }

    /** Keeps the candidate if its (t, tie) — nulls first — is greater;
      * on equal (t, tie) a set value beats null, then the larger value. */
    def offerLast(tSet: Boolean, pt: Long, tieSet: Boolean, ptie: Long,
                  set: Boolean, pv: Long): Unit = {
      var c = if (!hasLast) 1 else java.lang.Boolean.compare(tSet, lastTSet)
      if (c == 0) c = java.lang.Long.compare(pt, lastT)
      if (c == 0) c = java.lang.Boolean.compare(tieSet, lastTieSet)
      if (c == 0) c = java.lang.Long.compare(ptie, lastTie)
      if (c == 0) c = java.lang.Boolean.compare(set, lastSet)
      if (c == 0) c = java.lang.Long.compare(pv, lastV)
      if (c > 0) {
        hasLast = true
        lastTSet = tSet; lastT = pt; lastTieSet = tieSet; lastTie = ptie
        lastSet = set; lastV = pv
      }
    }

    def append(o: Runs): Unit = {
      if (o.n > 0) {
        reserve(n + o.n)
        isRun = isRun && o.isRun && (n == 0 || o.t(0) > t(n - 1))
        System.arraycopy(o.t, 0, t, n, o.n)
        System.arraycopy(o.tie, 0, tie, n, o.n)
        var k = 0
        while (k < nValues) {
          System.arraycopy(o.v(k), 0, v(k), n, o.n)
          k += 1
        }
        n += o.n
      }
      if (o.hasLast)
        offerLast(o.lastTSet, o.lastT, o.lastTieSet, o.lastTie, o.lastSet,
          o.lastV)
    }

    /** (t, tie, values) order of posits `i` and `j`: values decide only
      * between posits equal in (t, tie), so the kept posit never depends
      * on the order rows arrive in. */
    private def less(i: Int, j: Int): Boolean =
      if (t(i) != t(j)) t(i) < t(j)
      else if (tie(i) != tie(j)) tie(i) < tie(j)
      else {
        var k = 0
        var c = 0
        while (c == 0 && k < nValues) {
          c = java.lang.Double.compare(v(k)(i), v(k)(j))
          k += 1
        }
        c < 0
      }

    /** Indices of [0, n) in [[less]] order: a stable bottom-up merge of
      * the natural ascending runs, so input made of a few sorted runs
      * (the runs a reducer merges; mostly ordered posits) costs a few
      * linear passes. */
    private def order(): Array[Int] = {
      var src = Array.range(0, n)
      var dst = new Array[Int](n)
      val starts = new Array[Int](n + 1)
      var runs = 0
      var i = 0
      while (i < n) {
        starts(runs) = i
        runs += 1
        i += 1
        while (i < n && !less(i, i - 1)) i += 1
      }
      starts(runs) = n
      while (runs > 1) {
        var r = 0
        var w = 0
        while (r < runs) {
          val lo = starts(r)
          val mid = starts(math.min(r + 1, runs))
          val hi = starts(math.min(r + 2, runs))
          var a = lo
          var b = mid
          var o = lo
          while (o < hi) {
            if (b >= hi || (a < mid && !less(src(b), src(a)))) {
              dst(o) = src(a); a += 1
            } else { dst(o) = src(b); b += 1 }
            o += 1
          }
          starts(w) = lo
          w += 1
          r += 2
        }
        starts(w) = n
        runs = w
        val tmp = src; src = dst; dst = tmp
      }
      src
    }

    /** The assembly kernel: sort by (t, tie), keep the smallest tie per
      * t, keep the earliest `cap` timestamps (all when `cap <= 0`). */
    def compact(cap: Int): Unit =
      if (!isRun) {
        val ord = order()
        val m = if (cap > 0) math.min(cap, n) else n
        val nt = new Array[Long](m)
        val ntie = new Array[Long](m)
        val nv = Array.fill(nValues)(new Array[Double](m))
        var kept = 0
        var i = 0
        while (i < n && kept < m) {
          val j = ord(i)
          if (kept == 0 || t(j) != nt(kept - 1)) {
            nt(kept) = t(j)
            ntie(kept) = tie(j)
            var k = 0
            while (k < nValues) { nv(k)(kept) = v(k)(j); k += 1 }
            kept += 1
          }
          i += 1
        }
        t = nt; tie = ntie; v = nv; n = kept; isRun = true
      } else if (cap > 0 && n > cap) n = cap

    def toBytes: Array[Byte] = {
      val out = new Array[Byte](Runs.Header + 8 * n * (2 + nValues))
      val base = Platform.BYTE_ARRAY_OFFSET
      Platform.putInt(out, base, n)
      Platform.putByte(out, base + 4, ((if (isRun) 1 else 0) |
        (if (hasLast) 2 else 0) | (if (lastTSet) 4 else 0) |
        (if (lastTieSet) 8 else 0) | (if (lastSet) 16 else 0)).toByte)
      Platform.putLong(out, base + 5, lastT)
      Platform.putLong(out, base + 13, lastTie)
      Platform.putLong(out, base + 21, lastV)
      var off = base + Runs.Header
      def put(a: AnyRef, at: Long): Unit = {
        Platform.copyMemory(a, at, out, off, 8L * n)
        off += 8 * n
      }
      put(t, Platform.LONG_ARRAY_OFFSET)
      put(tie, Platform.LONG_ARRAY_OFFSET)
      v.foreach(put(_, Platform.DOUBLE_ARRAY_OFFSET))
      out
    }

    /** Appends a buffer serialized by [[toBytes]]. */
    def appendBytes(b: Array[Byte]): Unit = {
      val base = Platform.BYTE_ARRAY_OFFSET
      val m = Platform.getInt(b, base)
      val flags = Platform.getByte(b, base + 4)
      if (m > 0) {
        reserve(n + m)
        var off = base + Runs.Header
        def get(a: AnyRef, at: Long): Unit = {
          Platform.copyMemory(b, off, a, at + 8L * n, 8L * m)
          off += 8 * m
        }
        val first = Platform.getLong(b, off)
        isRun = isRun && (flags & 1) != 0 && (n == 0 || first > t(n - 1))
        get(t, Platform.LONG_ARRAY_OFFSET)
        get(tie, Platform.LONG_ARRAY_OFFSET)
        v.foreach(get(_, Platform.DOUBLE_ARRAY_OFFSET))
        n += m
      }
      if ((flags & 2) != 0)
        offerLast((flags & 4) != 0, Platform.getLong(b, base + 5),
          (flags & 8) != 0, Platform.getLong(b, base + 13),
          (flags & 16) != 0, Platform.getLong(b, base + 21))
    }
  }

  object Runs {
    /** n, flags, last t, last tie, last value. */
    private val Header = 4 + 1 + 3 * 8
  }

  /** Posits (t, tie, one value per name[, carried]) → a key's trip: a
    * struct of `t` and one array per value name, `n`, and `last` when
    * carried. Map-side, `update` appends posits to a [[Runs]] buffer;
    * `serialize` compacts it to a run and writes its byte form; the
    * reducer merges the runs and `eval` compacts them into the trip. */
  case class AssembleTrip(children: Seq[Expression], valueNames: Seq[String],
                          lastType: Option[DataType], maxSize: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Runs] {
    lastType.foreach(dt => require(dt == IntegerType || dt == LongType,
      s"the carried last value must be an INT or BIGINT column, got " +
        dt.simpleString))

    private val nValues = valueNames.size
    override def nullable: Boolean = true
    override def prettyName: String = "assemble_trip"

    override def dataType: DataType = StructType(
      (StructField("t", ArrayType(LongType, containsNull = false)) +:
        valueNames.map(StructField(_, ArrayType(DoubleType,
          containsNull = false)))) ++
        Seq(StructField("n", LongType, nullable = false)) ++
        lastType.map(StructField("last", _)))

    override def createAggregationBuffer(): Runs = new Runs(nValues)

    /** The inputs of one row in one generated projection: no boxing. */
    @transient private lazy val inputs = UnsafeProjection.create(children)
    private val lastAt = 2 + nValues
    private val lastInt = lastType.contains(IntegerType)

    /** The cap, applied whenever a buffer doubles past it. */
    private def capped(b: Runs): Runs = {
      if (maxSize > 0 && b.n > 2 * maxSize) b.compact(maxSize)
      b
    }

    override def update(b: Runs, row: InternalRow): Runs = {
      val r = inputs(row)
      val tSet = !r.isNullAt(0)
      val tieSet = !r.isNullAt(1)
      val pt = if (tSet) r.getLong(0) else 0L
      val ptie = if (tieSet) r.getLong(1) else 0L
      val i = b.add(pt, ptie)
      var k = 0
      while (k < nValues) {
        b.v(k)(i) = if (r.isNullAt(2 + k)) 0.0 else r.getDouble(2 + k)
        k += 1
      }
      if (lastType.isDefined) {
        val set = !r.isNullAt(lastAt)
        val pv =
          if (!set) 0L else if (lastInt) r.getInt(lastAt) else r.getLong(lastAt)
        b.offerLast(tSet, pt, tieSet, ptie, set, pv)
      }
      capped(b)
    }

    override def merge(b: Runs, o: Runs): Runs = { b.append(o); capped(b) }

    override def serialize(b: Runs): Array[Byte] = {
      b.compact(maxSize)
      b.toBytes
    }

    override def deserialize(bytes: Array[Byte]): Runs = {
      val b = createAggregationBuffer()
      b.appendBytes(bytes)
      b
    }

    override def eval(b: Runs): Any = {
      b.compact(maxSize)
      val n = b.n
      val fields = Seq(UnsafeArrayData.fromPrimitiveArray(b.t,
        Platform.LONG_ARRAY_OFFSET, n, 8)) ++
        b.v.map(UnsafeArrayData.fromPrimitiveArray(_,
          Platform.DOUBLE_ARRAY_OFFSET, n, 8)) ++
        Seq(n.toLong) ++
        lastType.map(dt =>
          if (!b.hasLast || !b.lastSet) null
          else if (dt == IntegerType) Int.box(b.lastV.toInt)
          else Long.box(b.lastV))
      new GenericInternalRow(fields.toArray[Any])
    }

    override def withNewMutableAggBufferOffset(o: Int): AssembleTrip =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): AssembleTrip =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): AssembleTrip = copy(children = c)
  }

  // ---- lifting raw assembled arrays to Temporal structs -------------------

  /** Lift an `FSeq` column (from tfloatAssemble) to a tfloat sequence struct
    * with the reference's construction defaults (incl/incl, LINEAR). */
  def tfloatSeq(fseq: Column, srid: Int = 0): Column =
    Temporal.tseqOf(
      zip_with(fseq.getField("t"), fseq.getField("v"),
        (t, v) => struct(timestamp_micros(t).as("t"), v.as("v"))),
      Temporal.InterpLinear, lowerInc = true, upperInc = true, srid = srid)

  /** Lift a `PSeq` column (from tpointAssemble) into the codec-compatible
    * temporal-value shape ([[TGeom.Val]]): a linear, closed-bounds
    * sequence — exactly `TSeq::make`'s construction defaults
    * (`meos/src/tseq.rs:57-60`). The result feeds every
    * [[MeosFunctions]] codec (WKT/MF-JSON/WKB). One native expression
    * ([[NativeExpressions.TGeompointValExpr]]), so the sink's projection
    * stays compiled. */
  def tpointVal(pseq: Column, srid: Int = Temporal.DefaultSrid): Column = {
    import org.apache.spark.sql.GraftShims.{column, expression}
    column(NativeExpressions.TGeompointValExpr(expression(pseq), srid))
  }

  /** Lift a `PSeq` column (from tpointAssemble) to a tgeompoint sequence
    * struct. */
  def tpointSeq(pseq: Column, srid: Int = Temporal.DefaultSrid): Column =
    Temporal.tseqOf(
      zip_with(
        zip_with(pseq.getField("t"), pseq.getField("x"),
          (t, x) => struct(t.as("t"), x.as("x"))),
        pseq.getField("y"),
        (tx, y) => struct(
          timestamp_micros(tx.getField("t")).as("t"),
          tx.getField("x").as("x"), y.as("y"))),
      Temporal.InterpLinear, lowerInc = true, upperInc = true, srid = srid)
}
