package graft.meos

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.sql.{Column, Encoders, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side bridges that build the temporal-value struct as a
  * Catalyst InternalRow: parse text ([[NativeExpressions.TGeompointParseExpr]])
  * and lift an assembled point trip ([[NativeExpressions.TGeompointValExpr]]).
  *
  * MUST stay a top-level object: Scala only emits Java-visible static
  * forwarders (`graft.meos.TGeomBridge.parseToRow(...)`) for top-level
  * objects. A nested object compiles to `NativeExpressions$TGeomBridge$`,
  * which janino cannot resolve from generated code — the whole stage then
  * silently falls back to interpreted execution.
  *
  * The serializer is per-thread: `ExpressionEncoder.Serializer` reuses a
  * mutable UnsafeRow buffer, so sharing one across executor task threads
  * races (the `.copy()` happens only after the projection).
  */
object TGeomBridge {
  import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
  import org.apache.spark.sql.types.{BooleanType, StructField, StructType, TimestampType}

  private def enc: ExpressionEncoder[TGeom.Val] =
    ExpressionEncoder(Encoders.product[TGeom.Val]
      .asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[TGeom.Val]])
  private val serializer =
    ThreadLocal.withInitial(() => enc.createSerializer())
  val valDataType: DataType = enc.schema

  def parseToRow(wkt: UTF8String): InternalRow =
    serializer.get()(TGeom.parse(wkt.toString)).copy()

  /** The type of [[pointVal]]'s value: [[TGeom.Val]]'s fields, z-less. */
  val pointValType: StructType = StructType(Seq(
    StructField("subtype", IntegerType, nullable = false),
    StructField("srid", IntegerType, nullable = false),
    StructField("interp", IntegerType, nullable = false),
    StructField("sequences", ArrayType(StructType(Seq(
      StructField("instants", ArrayType(StructType(Seq(
        StructField("t", TimestampType),
        StructField("x", DoubleType),
        StructField("y", DoubleType))), containsNull = false)),
      StructField("interp", IntegerType, nullable = false),
      StructField("lower_inc", BooleanType, nullable = false),
      StructField("upper_inc", BooleanType, nullable = false))),
      containsNull = false), nullable = false)))

  /** Ordinals of `t`, `x`, `y` in the assembled struct. */
  def pointValOrdinals(dt: DataType): Array[Int] = {
    val st = dt.asInstanceOf[StructType]
    Array(st.fieldIndex("t"), st.fieldIndex("x"), st.fieldIndex("y"))
  }

  /** [[NativeExpressions.TGeompointValExpr]]: an assembled point trip's
    * `t`/`x`/`y` arrays (at ordinals `ord`) → a linear, closed-bounds
    * sequence, written straight into an `UnsafeRow` with
    * `UnsafeRowWriter`. The same value, type and nullability as the
    * composed form it replaced (two nested `zip_with`s under a `struct`):
    * arrays of unequal length pad with null fields, and a null input or
    * array gives null instants. */
  def pointVal(pseq: InternalRow, ord: Array[Int], srid: Int)
      : InternalRow = {
    def array(i: Int) =
      if (pseq == null || pseq.isNullAt(ord(i))) null
      else pseq.getArray(ord(i))
    val ts = array(0)
    val xs = array(1)
    val ys = array(2)
    val n = if (ts == null || xs == null || ys == null) -1
      else math.max(ts.numElements(), math.max(xs.numElements(),
        ys.numElements()))
    val top = new UnsafeRowWriter(4, 128 + 48 * math.max(n, 0))
    top.resetRowWriter()
    top.write(0, TGeom.SubSequence)
    top.write(1, srid)
    top.write(2, Temporal.InterpLinear)
    val seqsAt = top.cursor()
    val seqs = new UnsafeArrayWriter(top, 8)
    seqs.initialize(1)
    val seqAt = seqs.cursor()
    val seqW = new UnsafeRowWriter(seqs, 4)
    seqW.resetRowWriter()
    if (n < 0) seqW.setNullAt(0)
    else {
      val instsAt = seqW.cursor()
      val insts = new UnsafeArrayWriter(seqW, 8)
      insts.initialize(n)
      val instW = new UnsafeRowWriter(insts, 3)
      var i = 0
      while (i < n) {
        val instAt = insts.cursor()
        instW.resetRowWriter()
        if (i < ts.numElements() && !ts.isNullAt(i))
          instW.write(0, ts.getLong(i))
        else instW.setNullAt(0)
        if (i < xs.numElements() && !xs.isNullAt(i))
          instW.write(1, xs.getDouble(i))
        else instW.setNullAt(1)
        if (i < ys.numElements() && !ys.isNullAt(i))
          instW.write(2, ys.getDouble(i))
        else instW.setNullAt(2)
        insts.setOffsetAndSizeFromPreviousCursor(i, instAt)
        i += 1
      }
      seqW.setOffsetAndSizeFromPreviousCursor(0, instsAt)
    }
    seqW.write(1, Temporal.InterpLinear)
    seqW.write(2, true)
    seqW.write(3, true)
    seqs.setOffsetAndSizeFromPreviousCursor(0, seqAt)
    top.setOffsetAndSizeFromPreviousCursor(3, seqsAt)
    top.getRow
  }
}

/** Executor-side bridge for [[NativeExpressions.FloatDotExpr]]: tight loop
  * over the two `ArrayData` buffers — no intermediate array allocation (the
  * `zip_with` + `aggregate` composition builds a 64-element array per
  * row-pair). The fold is the same left-to-right double accumulation
  * starting at 0.0, so results are bit-identical to the composed form and
  * to the DuckDB oracle's `list_reduce`. Top-level for janino visibility
  * (see [[TGeomBridge]]). */
object DotBridge {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}

/** Executor-side bridge for [[NativeExpressions.RhpBandsExpr]]: all
  * random-hyperplane projections of one vector in a single pass, folded
  * into per-band sign-bit strings. Top-level for janino visibility (see
  * [[TGeomBridge]]). */
object RhpBridge {
  /** Deterministic ±1 hyperplanes, same derivation as the composed
    * `Similarity.rhpBands` — `bits` planes over `dim` dimensions. */
  def planes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(bits) { b =>
      val rnd = new scala.util.Random(seed * 1315423911L + b)
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  def bands(v: org.apache.spark.sql.catalyst.util.ArrayData,
            planes: Array[Array[Double]], bandsN: Int, bitsPerBand: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    val out = new Array[AnyRef](bandsN)
    val sb = new java.lang.StringBuilder(bitsPerBand)
    var band = 0
    while (band < bandsN) {
      sb.setLength(0)
      var bit = 0
      while (bit < bitsPerBand) {
        val plane = planes(band * bitsPerBand + bit)
        var acc = 0.0
        var i = 0
        val m = math.min(n, plane.length)
        while (i < m) {
          acc += v.getFloat(i).toDouble * plane(i)
          i += 1
        }
        sb.append(if (acc >= 0) '1' else '0')
        bit += 1
      }
      out(band) = UTF8String.fromString(sb.toString)
      band += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Executor-side bridge for [[NativeExpressions.FloatL2Expr]]: squared
  * L2 distance over two float vectors, same zero-alloc tight-loop shape as
  * [[DotBridge]]. Each term is `(a - b) * (a - b)` on doubles — explicit
  * multiplication, never `pow` (whose rounding is library-defined) — so
  * DuckDB's `(x[1]-x[2])*(x[1]-x[2])` fold reproduces it bit-for-bit. */
object L2Bridge {
  def l2sq(a: org.apache.spark.sql.catalyst.util.ArrayData,
           b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Executor-side bridge for the product-quantization expressions
  * ([[NativeExpressions.PqEncodeExpr]] / [[NativeExpressions.PqAdcExpr]]).
  * The codebook rides as one flat `double[]` referenced object laid out
  * `((sub * k) + cell) * subDim + t` — janino sees a primitive array (a
  * nested Seq-of-Seq would fall out of codegen, see [[TGeomBridge]]), and
  * the loops are tight zero-alloc double folds.
  *
  * Float discipline (oracle parity): every distance is a left-to-right
  * fold of `(x - c) * (x - c)` with the float element cast to double
  * first; the ADC total adds per-subspace distances in subspace order.
  * DuckDB reproduces both folds bit-for-bit (`list_reduce` over
  * `list_zip`, then `list_reduce(list(d2 ORDER BY sub))`). */
object PqBridge {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  /** Nearest-cell code per subspace (argmin L2²; ties → smallest cell). */
  def encode(v: ArrayData, cb: Array[Double], m: Int, subDim: Int,
             k: Int): ArrayData = {
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val base = (j * k + c) * subDim
        var acc = 0.0
        var t = 0
        while (t < subDim) {
          val d = v.getFloat(j * subDim + t).toDouble - cb(base + t)
          acc += d * d
          t += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** Asymmetric distance: exact query subvector vs the corpus vector's
    * reconstructed (codebook-centroid) subvector, summed in sub order. */
  def adc(q: ArrayData, codes: ArrayData, cb: Array[Double], m: Int,
          subDim: Int, k: Int): Double = {
    var total = 0.0
    var j = 0
    while (j < m) {
      val base = (j * k + codes.getInt(j)) * subDim
      var acc = 0.0
      var t = 0
      while (t < subDim) {
        val d = q.getFloat(j * subDim + t).toDouble - cb(base + t)
        acc += d * d
        t += 1
      }
      total += acc
      j += 1
    }
    total
  }
}

/** Executor-side bridge for [[NativeExpressions.TGeompointOutExpr]]:
  * InternalRow of the temporal-value struct → WKT text. The row is read
  * FIELD-BY-NAME against the input's actual schema (resolved once at
  * plan time into ordinals), so both the canonical codec shape (with the
  * optional `z`) and the 2-D assembly shape (no `z` field at all) print
  * without an encoder round-trip. Top-level for janino visibility (see
  * [[TGeomBridge]]). */
object TGeomOutBridge {
  import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** Ordinal map resolved from the input struct type at plan time. */
  case class Layout(subtype: Int, srid: Int, interp: Int, sequences: Int,
                    seqInstants: Int, seqInterp: Int, seqLo: Int, seqHi: Int,
                    instT: Int, instX: Int, instY: Int, instZ: Int,
                    nSeqFields: Int, nInstFields: Int)

  def layoutOf(dt: org.apache.spark.sql.types.DataType): Layout = {
    val top = dt.asInstanceOf[StructType]
    val seqT = top("sequences").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val instT = seqT("instants").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    Layout(
      top.fieldIndex("subtype"), top.fieldIndex("srid"),
      top.fieldIndex("interp"), top.fieldIndex("sequences"),
      seqT.fieldIndex("instants"), seqT.fieldIndex("interp"),
      seqT.fieldIndex("lower_inc"), seqT.fieldIndex("upper_inc"),
      instT.fieldIndex("t"), instT.fieldIndex("x"), instT.fieldIndex("y"),
      if (instT.fieldNames.contains("z")) instT.fieldIndex("z") else -1,
      seqT.size, instT.size)
  }

  private def instOf(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  def toVal(row: InternalRow, l: Layout): TGeom.Val = {
    val seqs = row.getArray(l.sequences)
    val out = Seq.newBuilder[TGeom.GSeq]
    var i = 0
    while (i < seqs.numElements()) {
      val q = seqs.getStruct(i, l.nSeqFields)
      val insts = q.getArray(l.seqInstants)
      val ib = Seq.newBuilder[TGeom.GInst]
      var j = 0
      while (j < insts.numElements()) {
        val r = insts.getStruct(j, l.nInstFields)
        val z = if (l.instZ >= 0 && !r.isNullAt(l.instZ))
          Some(r.getDouble(l.instZ)) else None
        ib += TGeom.GInst(instOf(r.getLong(l.instT)), r.getDouble(l.instX),
          r.getDouble(l.instY), z)
        j += 1
      }
      out += TGeom.GSeq(ib.result(), q.getInt(l.seqInterp),
        q.getBoolean(l.seqLo), q.getBoolean(l.seqHi))
      i += 1
    }
    TGeom.Val(row.getInt(l.subtype), row.getInt(l.srid), row.getInt(l.interp),
      out.result())
  }

  def print(row: InternalRow, l: Layout, maxdd: Int): UTF8String =
    UTF8String.fromString(TGeom.print(toVal(row, l), maxdd,
      java.time.ZoneId.of(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)))

  /** The value-at result type: an (x, y) point, null where the temporal
    * value is undefined. */
  val pointType: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  /** [[TGeom.valueAt]] read in place: the instants are visited where they
    * lie in the row, nothing is converted. Same walk, same arithmetic:
    * the first sequence that defines a value at `atUs` (µs since the
    * epoch) answers; Discrete/None match exact instants only, Step holds
    * the value at or before `atUs`, Linear interpolates between the
    * bracketing instants, bounds inclusivity decides the ends; a sequence
    * without instants covers nothing. */
  def valueAt(row: InternalRow, l: Layout, atUs: Long): InternalRow = {
    val seqs = row.getArray(l.sequences)
    var i = 0
    while (i < seqs.numElements()) {
      val q = seqs.getStruct(i, l.nSeqFields)
      val insts = q.getArray(l.seqInstants)
      val n = insts.numElements()
      def inst(k: Int): InternalRow = insts.getStruct(k, l.nInstFields)
      def point(r: InternalRow): InternalRow =
        new GenericInternalRow(Array[Any](r.getDouble(l.instX),
          r.getDouble(l.instY)))
      if (n > 0) q.getInt(l.seqInterp) match {
        case Temporal.InterpDiscrete | Temporal.InterpNone =>
          var k = 0
          while (k < n) {
            val r = inst(k)
            if (r.getLong(l.instT) == atUs) return point(r)
            k += 1
          }
        case interp =>
          val first = inst(0).getLong(l.instT)
          val last = inst(n - 1).getLong(l.instT)
          val inLower =
            if (q.getBoolean(l.seqLo)) atUs >= first else atUs > first
          val inUpper =
            if (q.getBoolean(l.seqHi)) atUs <= last else atUs < last
          if (inLower && inUpper) {
            var k = 0
            var a = inst(0)
            var next = if (n > 1) inst(1) else null
            while (k < n - 1 && next.getLong(l.instT) <= atUs) {
              k += 1
              a = next
              next = if (k < n - 1) inst(k + 1) else null
            }
            val aT = a.getLong(l.instT)
            if (aT == atUs) return point(a)
            else if (k < n - 1) {
              if (interp == Temporal.InterpStep) return point(a)
              val f = (atUs - aT).toDouble / (next.getLong(l.instT) - aT)
              val ax = a.getDouble(l.instX)
              val ay = a.getDouble(l.instY)
              return new GenericInternalRow(Array[Any](
                ax + f * (next.getDouble(l.instX) - ax),
                ay + f * (next.getDouble(l.instY) - ay)))
            }
          }
      }
      i += 1
    }
    null
  }
}

/** Executor-side bridge for the native WKB codec expressions.
  *
  * Encode reads the temporal-value struct field-by-ordinal (a
  * [[TGeomOutBridge.Layout]], so the canonical and the z-less assembly
  * shapes both encode) and writes the WKB bytes — or, for HexWKB, their
  * uppercase hex digits — straight into one `byte[]`: no model, no
  * `ByteBuffer`, no `String`. Byte for byte the layout of
  * [[MobilityWkb.toWkb]] (little-endian).
  *
  * Decode is one pass with no intermediate model: the WKB bytes — or, for
  * HexWKB, the `UTF8String`'s own bytes, two digits per byte — are read
  * in order and written straight into an `UnsafeRow` of
  * [[TGeomBridge.valDataType]] with Spark's `UnsafeRowWriter` /
  * `UnsafeArrayWriter`. Layout, flags, interpolation, bounds and the PG
  * epoch follow [[MobilityWkb]] exactly, and hex digits go through
  * [[TGeom.hexByte]], so a value decodes — or is rejected with a
  * [[TGeom.ParseError]] — the same way as by [[TGeom.fromHexWkb]].
  * Top-level for janino visibility (see [[TGeomBridge]]). */
object WkbBridge {
  import org.apache.spark.sql.catalyst.expressions.UnsafeRow
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
  import MobilityWkb.Codes

  def toWkb(row: InternalRow, l: TGeomOutBridge.Layout): Array[Byte] =
    encode(row, l, hex = false)

  def toHexWkb(row: InternalRow, l: TGeomOutBridge.Layout): UTF8String =
    UTF8String.fromBytes(encode(row, l, hex = true))

  private val HexDigits = "0123456789ABCDEF".getBytes("US-ASCII")

  /** Little-endian writer of WKB bytes, or of the hex digits spelling
    * them (two per byte). */
  private final class Out(size: Int, hex: Boolean) {
    val bytes = new Array[Byte](if (hex) 2 * size else size)
    private var pos = 0

    def u8(b: Int): Unit =
      if (hex) {
        bytes(pos) = HexDigits((b >> 4) & 0xf)
        bytes(pos + 1) = HexDigits(b & 0xf)
        pos += 2
      } else {
        bytes(pos) = b.toByte
        pos += 1
      }

    def i16(v: Int): Unit = { u8(v & 0xff); u8((v >> 8) & 0xff) }
    def i32(v: Int): Unit = { i16(v & 0xffff); i16(v >>> 16) }
    def i64(v: Long): Unit = { i32(v.toInt); i32((v >>> 32).toInt) }
    def f64(d: Double): Unit = i64(java.lang.Double.doubleToRawLongBits(d))
  }

  private def encode(row: InternalRow, l: TGeomOutBridge.Layout,
                     hex: Boolean): Array[Byte] = {
    val subtype = row.getInt(l.subtype)
    val srid = row.getInt(l.srid)
    val seqs = row.getArray(l.sequences)
    val nSeq = seqs.numElements()
    def seq(k: Int): InternalRow = seqs.getStruct(k, l.nSeqFields)
    def instants(k: Int) = seq(k).getArray(l.seqInstants)
    // Z when any instant of the value carries one, as MobilityWkb.toWkb
    var hasZ = false
    if (l.instZ >= 0) {
      var k = 0
      while (!hasZ && k < nSeq) {
        val is = instants(k)
        var j = 0
        while (!hasZ && j < is.numElements()) {
          hasZ = !is.getStruct(j, l.nInstFields).isNullAt(l.instZ)
          j += 1
        }
        k += 1
      }
    }
    val instBytes = if (hasZ) 32 else 24
    def seqBytes(k: Int): Int = 5 + instants(k).numElements() * instBytes
    if ((subtype == TGeom.SubInstant || subtype == TGeom.SubSequence) &&
        (nSeq == 0 || subtype == TGeom.SubInstant &&
          instants(0).numElements() == 0))
      throw new NoSuchElementException(
        s"a subtype $subtype value without its instant or sequence")
    val payload = subtype match {
      case TGeom.SubInstant => instBytes
      case TGeom.SubSequence => seqBytes(0)
      case TGeom.SubSequenceSet =>
        var b = 4
        var k = 0
        while (k < nSeq) { b += seqBytes(k); k += 1 }
        b
      case o => throw new TGeom.ParseError(s"bad subtype $o")
    }
    val out = new Out(4 + (if (srid != 0) 4 else 0) + payload, hex)
    out.u8(0x01)
    out.i16(Codes.TGeomPoint)
    val interp =
      if (subtype == TGeom.SubInstant) Temporal.InterpNone
      else row.getInt(l.interp)
    out.u8((subtype & Codes.SubtypeMask) |
      ((interp << Codes.InterpShift) & Codes.InterpMask) |
      (if (hasZ) Codes.FlagZ else 0) | (if (srid != 0) Codes.FlagSrid else 0))
    if (srid != 0) out.i32(srid)
    def inst(r: InternalRow): Unit = {
      out.f64(r.getDouble(l.instX))
      out.f64(r.getDouble(l.instY))
      if (hasZ)
        out.f64(if (r.isNullAt(l.instZ)) 0.0 else r.getDouble(l.instZ))
      out.i64(r.getLong(l.instT) - MobilityWkb.PgEpochUs)
    }
    def sequence(k: Int): Unit = {
      val q = seq(k)
      val is = q.getArray(l.seqInstants)
      val n = is.numElements()
      out.i32(n)
      out.u8((if (q.getBoolean(l.seqLo)) Codes.LowerInc else 0) |
        (if (q.getBoolean(l.seqHi)) Codes.UpperInc else 0))
      var j = 0
      while (j < n) { inst(is.getStruct(j, l.nInstFields)); j += 1 }
    }
    subtype match {
      case TGeom.SubInstant => inst(instants(0).getStruct(0, l.nInstFields))
      case TGeom.SubSequence => sequence(0)
      case _ =>
        out.i32(nSeq)
        var k = 0
        while (k < nSeq) { sequence(k); k += 1 }
    }
    out.bytes
  }

  def fromWkb(b: Array[Byte]): InternalRow =
    memoized(hex = false, UTF8String.fromBytes(b))(
      decode(new In(b, null, b.length)))

  def fromHexWkb(s: UTF8String): InternalRow = memoized(hex = true, s) {
    val n = s.numBytes
    TGeom.checkHexLength(n)
    val in = new In(null, s, n / 2)
    val row = decode(in)
    // a complete value may be followed by bytes nobody reads (as in
    // MobilityWkb.fromWkb); they must still be spelled in hex
    while (in.pos < in.size) in.u8()
    row
  }

  /** The last value a task thread decoded, with a copy of its input. */
  private final class Memo(var task: TaskContext) {
    var hex = false
    var key: UTF8String = _
    var row: UnsafeRow = _
  }
  private val memo = new ThreadLocal[Memo]

  /** Decodes `key`, or returns the row this task thread decoded last when
    * its input bytes are equal. Catalyst re-derives a projected decode
    * inside the null checks it infers below the projection, so one trip
    * would otherwise be decoded once per check. A task-completion listener
    * drops the entry, so no decoded row outlives its task; without a
    * `TaskContext` (driver-side evaluation) nothing is kept. */
  private def memoized(hex: Boolean, key: UTF8String)(
      decode: => UnsafeRow): InternalRow = {
    val tc = TaskContext.get()
    if (tc == null) return decode
    var m = memo.get()
    if (m == null || (m.task ne tc)) {
      val fresh = new Memo(tc)
      tc.addTaskCompletionListener[Unit] { _ =>
        fresh.task = null; fresh.key = null; fresh.row = null
      }
      memo.set(fresh)
      m = fresh
    }
    if (m.hex == hex && m.key == key) m.row
    else {
      val row = decode
      m.hex = hex
      m.key = key.clone()
      m.row = row
      row
    }
  }

  /** Field ordinals of the decoded struct. */
  private val L = TGeomOutBridge.layoutOf(TGeomBridge.valDataType)
  private val NTopFields =
    TGeomBridge.valDataType.asInstanceOf[org.apache.spark.sql.types.StructType].size
  /** A decoded instant's row: one null word (fewer than 64 fields) and an
    * 8-byte slot per field, all fixed-width (x, y, z, t). */
  private val InstBytes = 8 + 8 * L.nInstFields

  /** Sequential little/big-endian reader over WKB bytes, or over the hex
    * digits spelling them (`hex != null`; byte i is digits 2i, 2i+1). */
  private final class In(bytes: Array[Byte], hex: UTF8String, val size: Int) {
    var pos = 0
    var littleEndian = true

    def remaining: Int = size - pos

    def u8(): Int = {
      if (pos >= size)
        throw new TGeom.ParseError(
          s"truncated WKB: the value runs past its $size bytes")
      val b =
        if (hex == null) bytes(pos) & 0xff
        else TGeom.hexByte(hex.getByte(2 * pos) & 0xff,
          hex.getByte(2 * pos + 1) & 0xff, 2 * pos)
      pos += 1
      b
    }

    private def le(n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) { v |= u8().toLong << (8 * k); k += 1 }
      v
    }

    private def be(n: Int): Long = {
      var v = 0L
      var k = 0
      while (k < n) { v = (v << 8) | u8(); k += 1 }
      v
    }

    def i16(): Int = (if (littleEndian) le(2) else be(2)).toShort.toInt
    def i32(): Int = (if (littleEndian) le(4) else be(4)).toInt
    def i64(): Long = if (littleEndian) le(8) else be(8)
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())

    /** A count of items of at least `minBytes` each must fit in what is
      * left — checked before any array is sized from it. */
    def count(minBytes: Int): Int = {
      val n = i32()
      if (n < 0 || n.toLong * minBytes > remaining)
        throw new TGeom.ParseError(
          s"truncated WKB: count $n at offset ${pos - 4} does not fit in " +
            s"the $size bytes")
      n
    }
  }

  private def decode(in: In): UnsafeRow = {
    in.littleEndian = in.u8() match {
      case 0x01 => true
      case 0x00 => false
      case o => throw new TGeom.ParseError(f"bad byte-order marker 0x$o%02x")
    }
    val temptype = in.i16()
    if (temptype != Codes.TGeomPoint)
      throw new TGeom.ParseError(s"unsupported temptype $temptype")
    val flags = in.u8()
    val subtype = flags & Codes.SubtypeMask
    val hasZ = (flags & Codes.FlagZ) != 0
    val srid = if ((flags & Codes.FlagSrid) != 0) in.i32() else 0
    val interp =
      if (subtype == TGeom.SubInstant) Temporal.InterpNone
      else (flags & Codes.InterpMask) >> Codes.InterpShift
    if (subtype < TGeom.SubInstant || subtype > TGeom.SubSequenceSet)
      throw new TGeom.ParseError(s"bad subtype $subtype")
    val instBytes = if (hasZ) 32 else 24

    // a 2-D instant takes 40 row bytes, an 8-byte array slot and a null
    // bit: a bit over twice its 24 WKB bytes. Sized so one sequence never
    // outgrows the buffer (growing copies it into one twice as large);
    // many short sequences still may
    val top = new UnsafeRowWriter(NTopFields, 2 * in.size + in.size / 8 + 256)
    top.resetRowWriter()
    top.write(L.subtype, subtype)
    top.write(L.srid, srid)
    top.write(L.interp, interp)
    val seqsAt = top.cursor()
    val seqs = new UnsafeArrayWriter(top, 8)
    val seqW = new UnsafeRowWriter(seqs, L.nSeqFields)
    val insts = new UnsafeArrayWriter(seqW, 8)
    // instants are fixed-width rows, written in place after one grow per
    // sequence: no row writer to reset (and re-zero) per instant
    val zNull = if (hasZ) 0L else 1L << L.instZ
    def slot(ordinal: Int): Long = 8L + 8L * ordinal
    val nSeq = if (subtype == TGeom.SubSequenceSet) in.count(5) else 1
    seqs.initialize(nSeq)
    var k = 0
    while (k < nSeq) {
      val seqAt = seqs.cursor()
      seqW.resetRowWriter()
      var n = 1
      var bounds = Codes.LowerInc | Codes.UpperInc
      if (subtype != TGeom.SubInstant) { n = in.count(instBytes); bounds = in.u8() }
      val instsAt = seqW.cursor()
      insts.initialize(n)
      insts.grow(n * InstBytes)
      val buf = insts.getBuffer
      var j = 0
      while (j < n) {
        val at = insts.cursor().toLong
        Platform.putLong(buf, at, zNull)
        Platform.putDouble(buf, at + slot(L.instX), in.f64())
        Platform.putDouble(buf, at + slot(L.instY), in.f64())
        if (hasZ) Platform.putDouble(buf, at + slot(L.instZ), in.f64())
        else Platform.putLong(buf, at + slot(L.instZ), 0L)
        Platform.putLong(buf, at + slot(L.instT),
          in.i64() + MobilityWkb.PgEpochUs)
        insts.increaseCursor(InstBytes)
        insts.setOffsetAndSizeFromPreviousCursor(j, at.toInt)
        j += 1
      }
      seqW.setOffsetAndSizeFromPreviousCursor(L.seqInstants, instsAt)
      seqW.write(L.seqInterp, interp)
      seqW.write(L.seqLo, (bounds & Codes.LowerInc) != 0)
      seqW.write(L.seqHi, (bounds & Codes.UpperInc) != 0)
      seqs.setOffsetAndSizeFromPreviousCursor(k, seqAt)
      k += 1
    }
    top.setOffsetAndSizeFromPreviousCursor(L.sequences, seqsAt)
    top.getRow
  }
}

/** Executor-side bridge for [[NativeExpressions.Simhash32Expr]]: one
  * tight pass over the token-hash strings, folding all 32 per-position
  * high-bit votes and the majority threshold into the final bit string.
  * Top-level for janino visibility (see [[TGeomBridge]]). */
object SimhashBridge {
  def simhash(hashes: org.apache.spark.sql.catalyst.util.ArrayData)
      : UTF8String = {
    val n = hashes.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = hashes.getUTF8String(i)
      var p = 0
      while (p < 32) {
        // hex digit with high bit set: '8'..'9', 'a'..'f'
        val c = h.getByte(p)
        if ((c >= '8' && c <= '9') || (c >= 'a' && c <= 'f')) counts(p) += 1
        p += 1
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(32)
    var p = 0
    while (p < 32) {
      sb.append(if (2 * counts(p) >= n) '1' else '0')
      p += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** One-pass Shannon entropy of a token multiset: sort (binary UTF-8
  * order — Spark's own array_sort collation), run-length the duplicates,
  * fold -Σ p·ln p in term-ascending order. The per-term arithmetic
  * (long→double casts, divide, multiply, left fold) mirrors the qx28
  * DuckDB twin exactly; the only non-bit-portable op is ln itself,
  * absorbed by the query's round(…, 9). Null ELEMENTS are skipped
  * (probabilities are over the non-null tokens — split() output never
  * contains nulls, this only guards SQL callers against an NPE).
  * Replaces an explode + two shuffles with a narrow map. */
object EntropyBridge {
  def entropy(toks: org.apache.spark.sql.catalyst.util.ArrayData)
      : Double = {
    val ne = toks.numElements()
    val arr = new Array[AnyRef](ne)
    var n = 0
    var e = 0
    while (e < ne) {
      if (!toks.isNullAt(e)) { arr(n) = toks.getUTF8String(e); n += 1 }
      e += 1
    }
    if (n == 0) return 0.0
    java.util.Arrays.sort(arr, 0, n)
    val nd = n.toDouble
    var acc = 0.0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && arr(j) == arr(i)) j += 1
      val p = (j - i).toDouble / nd
      acc += p * math.log(p)
      i = j
    }
    // single-distinct-token docs fold to acc == 0.0; return +0.0, not
    // -0.0 (the twin normalizes the sign identically — bit-level parity)
    if (acc == 0.0) 0.0 else -acc
  }
}

/** Max multiset-count of a token array's k-grams in one pass: build each
  * gram's bytes (tokens joined by 0x20 — tokens contain no spaces, so
  * byte equality == gram equality), sort, return the longest run. k=1
  * degenerates to plain token counting. Only EQUALITY grouping matters
  * for the max count, so any total order works — no collation parity to
  * maintain. Powers the Gopher repetition ratios (qx15 / the curation
  * pipeline's repetition gate) as a narrow map instead of an explode +
  * two shuffles per ratio. */
object MaxRunBridge {
  def maxRunCount(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                  k: Int): Long = {
    val n = toks.numElements()
    if (n < k) return 0L
    // null ELEMENTS never occur from split() output; for SQL callers
    // they drop out of a gram like concat_ws drops them (the fused
    // minhash kernel's convention) instead of NPE-ing the sort
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val grams = new Array[Array[Byte]](n - k + 1)
    if (k == 1) {
      i = 0
      while (i < n) {
        grams(i) = if (tb(i) == null) Array.emptyByteArray else tb(i)
        i += 1
      }
    } else {
      i = 0
      while (i <= n - k) {
        var len = 0
        var nn = 0
        var t = 0
        while (t < k) {
          if (tb(i + t) != null) { len += tb(i + t).length; nn += 1 }
          t += 1
        }
        len += math.max(nn - 1, 0)
        val g = new Array[Byte](len)
        var off = 0
        var written = 0
        t = 0
        while (t < k) {
          if (tb(i + t) != null) {
            if (written > 0) { g(off) = ' '.toByte; off += 1 }
            val b = tb(i + t)
            System.arraycopy(b, 0, g, off, b.length)
            off += b.length
            written += 1
          }
          t += 1
        }
        grams(i) = g
        i += 1
      }
    }
    java.util.Arrays.sort(grams,
      new java.util.Comparator[Array[Byte]] {
        override def compare(a: Array[Byte], b: Array[Byte]): Int =
          java.util.Arrays.compareUnsigned(a, b)
      })
    var best = 1L
    var run = 1L
    i = 1
    while (i < grams.length) {
      if (java.util.Arrays.equals(grams(i), grams(i - 1))) {
        run += 1
        if (run > best) best = run
      } else run = 1L
      i += 1
    }
    best
  }
}

/** Sliding-window minimum for winnowing fingerprints (qx43): all
  * w-window minima of a long array in ONE monotonic-deque pass — O(m)
  * total, replacing the composed `transform(sequence(...), i ->
  * array_min(slice(hs, i+1, w)))`, whose interpreted HOF allocates and
  * scans a w-slice per position (O(m·w) with per-window garbage).
  * Contract (NativeExprSpec pins parity with the composed form):
  * m ≥ w → m-w+1 window minima in positional order; 0 < m < w → one
  * element, the global min (a doc shorter than a window still
  * fingerprints); m = 0 → empty. */
object WinnowBridge {
  def slidingMin(hs: org.apache.spark.sql.catalyst.util.ArrayData,
                 w: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = hs.numElements()
    if (m == 0) return MinhashBridge.emptyLongs
    if (m < w) {
      var mn = Long.MaxValue
      var i = 0
      while (i < m) { val v = hs.getLong(i); if (v < mn) mn = v; i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array(mn))
    }
    val out = new Array[Long](m - w + 1)
    val dq = new Array[Int](m) // index deque, window candidates ascending
    var head = 0
    var tail = 0 // active range [head, tail)
    var i = 0
    while (i < m) {
      val v = hs.getLong(i)
      while (tail > head && hs.getLong(dq(tail - 1)) >= v) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = hs.getLong(dq(head))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Content-defined-chunking keys (qx42) in ONE pass over the token
  * bytes: the composed form md5s every token through an interpreted HOF
  * filter (hex string + conv parse per token), then builds each chunk
  * STRING and md5s it again; here each token is digested once for the
  * boundary test (60-bit key ≡ 0 mod `mod`, straight from the digest
  * bytes) and the chunk digests grow incrementally with `' '` separators
  * — the identical bytes `concat_ws(" ", slice(...))` would produce, no
  * gram/hex/chunk string ever materialized. Null tokens follow the
  * composed conventions: never a boundary (null predicate → filter
  * false) and skipped in the chunk bytes (concat_ws drops nulls). */
object CdcBridge {
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SPACE = Array(' '.toByte)

  /** First 15 hex digits of the digest as a long — bytes 0..6 plus the
    * high nibble of byte 7 (same mapping as MinhashBridge.shingleHashes). */
  private def h60(d: Array[Byte]): Long = {
    var v = 0L
    var j = 0
    while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  def chunkKeys(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                mod: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    if (n == 0) return MinhashBridge.emptyLongs
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = mdTl.get()
    // boundary AFTER 0-based position i (i < n-1): the token's 60-bit key
    val bounds = new Array[Boolean](n)
    var nChunks = 1
    i = 0
    while (i < n - 1) {
      if (tb(i) != null) {
        md.reset()
        md.update(tb(i))
        if (h60(md.digest()) % mod == 0) { bounds(i) = true; nChunks += 1 }
      }
      i += 1
    }
    val out = new Array[Long](nChunks)
    var c = 0
    var written = 0
    md.reset()
    i = 0
    while (i < n) {
      if (tb(i) != null) {
        if (written > 0) md.update(SPACE)
        md.update(tb(i))
        written += 1
      }
      if (bounds(i)) {
        out(c) = h60(md.digest()); c += 1
        md.reset(); written = 0
      }
      i += 1
    }
    out(c) = h60(md.digest())
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Interval-coverage token filter for the exact-substring span removal
  * (qx23): given a doc's token array and the start positions of its
  * duplicated k-grams, keep every token NOT covered by any interval
  * [p, p+width]. One merged two-pointer sweep — O(L + m·log m) per row
  * (the sort is a no-op guard; callers pass collect_list output, which
  * is unordered) — replacing the per-token `exists` scan that made a
  * fully-duplicated L-token doc O(L·m) ≈ O(L²). Index semantics mirror
  * the HOF formulation `filter(toks, (_, t) -> !exists(ps, p -> p <= t
  * AND t <= p + width))` exactly, including null token elements riding
  * through on their index (NativeExprSpec pins parity). */
object CoverageBridge {
  def keepUncovered(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                    starts: org.apache.spark.sql.catalyst.util.ArrayData,
                    width: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    val m = starts.numElements()
    val ps = new Array[Int](m)
    var mm = 0
    var i = 0
    while (i < m) {
      // null starts never occur from collect_list; skip them for SQL
      // callers rather than NPE (same convention as MaxRunBridge)
      if (!starts.isNullAt(i)) { ps(mm) = starts.getInt(i); mm += 1 }
      i += 1
    }
    java.util.Arrays.sort(ps, 0, mm)
    val kept = new Array[AnyRef](n)
    var cnt = 0
    var j = 0
    var maxEnd = Long.MinValue // max(p + width) over starts p <= t so far
    var t = 0
    while (t < n) {
      while (j < mm && ps(j) <= t) {
        val e = ps(j).toLong + width
        if (e > maxEnd) maxEnd = e
        j += 1
      }
      if (maxEnd < t) {
        kept(cnt) = if (toks.isNullAt(t)) null else toks.getUTF8String(t)
        cnt += 1
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(kept, cnt))
  }
}

/** Executor-side bridge for [[NativeExpressions.MinhashBandsExpr]]: ALL
  * seeded minhashes of a shingle array in ONE pass. The built-in
  * composition (`array_min(transform(sh, md5('seed:' || s)))` × seeds)
  * re-walks the array per seed through interpreted higher-order lambdas,
  * allocating a 32-char hex string per shingle per seed; here each
  * shingle is digested per seed with a thread-local MessageDigest, the
  * per-seed minimum is tracked as raw 16-byte digests (unsigned byte
  * order == lowercase-hex lexicographic order, so the min is the same),
  * and only the k winning digests are hex-encoded. Top-level object for
  * janino visibility (see [[TGeomBridge]]'s note).
  */
object MinhashBridge {
  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def bands(sh: org.apache.spark.sql.catalyst.util.ArrayData,
            prefixes: Array[Array[Byte]])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = sh.numElements()
    val k = prefixes.length
    val mins = new Array[Array[Byte]](k)
    val md = mdTl.get()
    var i = 0
    while (i < n) {
      // null shingle -> md5(concat('seed:', null)) is null in the composed
      // form, and array_min skips nulls — so a null element never competes
      if (!sh.isNullAt(i)) {
        val s = sh.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(s)
          val d = md.digest()
          if (mins(j) == null ||
            java.util.Arrays.compareUnsigned(d, mins(j)) < 0) mins(j) = d
          j += 1
        }
      }
      i += 1
    }
    minsOut(mins)
  }

  /** The composed form's result for a NULL input array: each band is
    * `array_min(transform(null, …))` = null, wrapped in a non-null
    * `array(...)` — k null elements, not a null array. */
  def nullBands(k: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    minsOut(new Array[Array[Byte]](k))

  /** The composed shingle pipelines' result for a NULL token array:
    * `Text.shingles` maps null input to an EMPTY shingle array (its
    * `when(size(toks) >= k)` guard is null → otherwise-branch `array()`),
    * so every downstream transform/sort/slice yields empty — never null. */
  def emptyStrings: org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))

  def emptyLongs: org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Long](0))

  /** Bottom-kMin seeded shingle digests in one fused pass — the qx9
    * fingerprint: shingle the tokens, digest `"seed:" + gram` per
    * shingle, keep the kMin lexicographically-smallest digests, hex them
    * ascending. Bit-identical to
    * `slice(array_sort(transform(shingles(toks,k), g ->
    * md5('seed:' || g))), 1, kMin)` with no gram/hex strings built for
    * the non-winners. */
  def shingleBottomK(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                     shingleK: Int, prefix: Array[Byte], kMin: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    val out0 = new Array[Any](0)
    if (n < shingleK)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out0)
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = mdTl.get()
    val mins = new Array[Array[Byte]](kMin)
    var count = 0
    i = 0
    while (i <= n - shingleK) {
      md.reset()
      md.update(prefix)
      var t = 0
      var written = 0
      while (t < shingleK) {
        if (tb(i + t) != null) {
          if (written > 0) md.update(SPACE)
          md.update(tb(i + t))
          written += 1
        }
        t += 1
      }
      val d = md.digest()
      // insertion into the tiny ascending buffer; duplicates KEPT —
      // array_sort over the multiset keeps them too
      if (count < kMin) {
        var p = count
        while (p > 0 &&
          java.util.Arrays.compareUnsigned(d, mins(p - 1)) < 0) {
          mins(p) = mins(p - 1); p -= 1
        }
        mins(p) = d
        count += 1
      } else if (java.util.Arrays
          .compareUnsigned(d, mins(kMin - 1)) < 0) {
        var p = kMin - 1
        while (p > 0 &&
          java.util.Arrays.compareUnsigned(d, mins(p - 1)) < 0) {
          mins(p) = mins(p - 1); p -= 1
        }
        mins(p) = d
      }
      i += 1
    }
    val out = new Array[Any](count)
    i = 0
    while (i < count) {
      out(i) = org.apache.spark.unsafe.types.UTF8String
        .fromString(hex(mins(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ALL k-gram hashes of a token array in one pass — the 60-bit keys of
    * `conv(substring(md5(gram), 1, 15), 16, 10)` computed straight from
    * the digest bytes (15 hex digits = bytes 0..6 plus the high nibble of
    * byte 7), with the gram digested incrementally from the token bytes
    * exactly like [[shingleBands]] (no gram string, no hex string, no
    * string-to-long parse). Position i of the output is the gram starting
    * at token i — callers posexplode to recover (p, h). Empty array when
    * fewer than k tokens. */
  def shingleHashes(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                    shingleK: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    if (n < shingleK)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Long](0))
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = mdTl.get()
    val out = new Array[Long](n - shingleK + 1)
    i = 0
    while (i <= n - shingleK) {
      md.reset()
      var t = 0
      var written = 0
      while (t < shingleK) {
        if (tb(i + t) != null) {
          if (written > 0) md.update(SPACE)
          md.update(tb(i + t))
          written += 1
        }
        t += 1
      }
      val d = md.digest()
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = (v << 4) | ((d(7) >> 4) & 0xfL)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val SPACE = Array(' '.toByte)

  /** Fused k-shingle + banding: digests each shingle incrementally from
    * the token byte arrays (`"seed:" tok_i ' ' tok_{i+1} ' ' …`) — the
    * identical bytes `concat_ws(" ", …)` would produce, with NO shingle
    * string ever materialized. Fewer than k tokens → all-null bands
    * (what `array_min` over an empty transform yields). */
  def shingleBands(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                   shingleK: Int, prefixes: Array[Array[Byte]])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    val k = prefixes.length
    val mins = new Array[Array[Byte]](k)
    if (n >= shingleK) {
      val tb = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        // concat_ws treats null elements as absent (no token, no
        // separator); tokens from split() are never null, but nullable
        // callers get the same bytes the composed form would digest
        tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
        i += 1
      }
      val md = mdTl.get()
      i = 0
      while (i <= n - shingleK) {
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          var t = 0
          var written = 0
          while (t < shingleK) {
            if (tb(i + t) != null) {
              if (written > 0) md.update(SPACE)
              md.update(tb(i + t))
              written += 1
            }
            t += 1
          }
          val d = md.digest()
          if (mins(j) == null ||
            java.util.Arrays.compareUnsigned(d, mins(j)) < 0) mins(j) = d
          j += 1
        }
        i += 1
      }
    }
    minsOut(mins)
  }

  private def minsOut(mins: Array[Array[Byte]])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Any](mins.length)
    var j = 0
    while (j < mins.length) {
      // empty shingle set -> null per band, matching array_min's null
      out(j) =
        if (mins(j) == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(hex(mins(j)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Executor-side bridge for [[NativeExpressions.Zorder2Expr]]: equi-depth
  * bin lookup (binary search over the fitted boundary arrays) + Morton
  * bit-interleave, one tight pass, zero allocation. Top-level object for
  * janino visibility (see [[TGeomBridge]]'s note).
  */
object ZorderBridge {
  /** Equi-depth bin id = number of fitted boundaries <= v (upper bound). */
  def bin(v: Double, bounds: Array[Double]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Morton-interleave the two bin ids: x gets the even bits, y the odd. */
  def z2(x: Double, y: Double, bx: Array[Double], by: Array[Double],
         bits: Int): Long = {
    val xb = bin(x, bx)
    val yb = bin(y, by)
    var z = 0L
    var b = 0
    while (b < bits) {
      z |= ((xb >> b) & 1L) << (2 * b)
      z |= ((yb >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }
}

/** Executor-side bridge for [[NativeExpressions.FrameDecodeExpr]]: the
  * toy fixed-layout frame decode (qm8) in one pass over the raw frame
  * bytes — the step the qm family stubbed until round 10. Layout, over a
  * 16-byte frame:
  *
  *   byte 0      version (high nibble) | flags (low nibble)
  *   byte 1      width code
  *   byte 2      height code
  *   byte 3      reserved
  *   bytes 4-15  payload — 3 channels INTERLEAVED (channel = (i-4) mod 3)
  *
  * Decoded facts: header fields + per-channel byte sum and max — all
  * exact integers, so the DuckDB twin recomputes them from hex slices
  * bit-identically. Frames shorter than 16 bytes read missing bytes as
  * 0 (zero-padding semantics, mirrored in the twin). Output: a 10-long
  * array [version, flags, width, height, ch0_sum, ch1_sum, ch2_sum,
  * ch0_max, ch1_max, ch2_max]. Top-level object for janino visibility
  * (see [[TGeomBridge]]'s note). */
object FrameDecodeBridge {
  def decode(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    def at(i: Int): Long =
      if (i < bytes.length) (bytes(i) & 0xff).toLong else 0L
    val out = new Array[Long](10)
    out(0) = at(0) >> 4
    out(1) = at(0) & 0xfL
    out(2) = at(1)
    out(3) = at(2)
    var j = 4
    while (j < 16) {
      val c = (j - 4) % 3
      val v = at(j)
      out(4 + c) += v
      if (v > out(7 + c)) out(7 + c) = v
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native Catalyst expressions — the §7.2 "promote hot UDFs" path.
  *
  * [[TGeompointParseExpr]] is the WKT parser (`tgeompoint_in`,
  * `meos/src/tinst.rs:24`) as a first-class `Expression`:
  *  - `foldable` for literal WKT, so golden literals constant-fold at plan
  *    time (SURVEY §4.2's explicit optimizer item) — a parse in a WHERE
  *    clause against a literal costs zero at runtime;
  *  - `doGenCode` emits a direct static call inside whole-stage codegen —
  *    no ScalaUDF closure dispatch, no Row boxing of `CodegenFallback`;
  *  - null-intolerant: null WKT → null value, skipping the parse.
  *
  * The same pattern applies to the remaining codec UDFs if profiles
  * demand; parsing is the hot one (every ingest row pays it).
  */
object NativeExpressions {

  case class TGeompointParseExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = TGeomBridge.valDataType
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def prettyName: String = "tgeompoint_parse"

    override def nullSafeEval(input: Any): Any =
      TGeomBridge.parseToRow(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.TGeomBridge.parseToRow($c);")

    override protected def withNewChildInternal(newChild: Expression)
        : TGeompointParseExpr = copy(child = newChild)
  }

  case class FloatDotExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def prettyName: String = "float_dot"

    override def nullSafeEval(a: Any, b: Any): Any =
      DotBridge.dot(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.meos.DotBridge.dot($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FloatDotExpr =
      copy(left = newLeft, right = newRight)
  }

  /** WKT print as a native expression (`tsequence_out`, tseq.rs:66-72) —
    * replaces the Row-boxing UDF in hot codec chains. Accepts ANY struct
    * carrying the temporal-value field names (the ordinal layout is
    * resolved from the input schema at plan time), so both the canonical
    * codec shape and the z-less assembly shape print natively. Renders in
    * the session timezone like the UDF path. */
  case class TGeompointOutExpr(child: Expression, maxdd: Int)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "tgeompoint_out_native"

    @transient private lazy val layout =
      TGeomOutBridge.layoutOf(child.dataType)

    override def nullSafeEval(input: Any): Any =
      TGeomOutBridge.print(input.asInstanceOf[InternalRow], layout, maxdd)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val layoutRef = ctx.addReferenceObj("tgeomOutLayout", layout,
        classOf[TGeomOutBridge.Layout].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.TGeomOutBridge.print($c, $layoutRef, " +
          s"$maxdd);")
    }

    override protected def withNewChildInternal(newChild: Expression)
        : TGeompointOutExpr = copy(child = newChild)
  }

  def tgeompointOut(v: Column, maxdd: Int = 15): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointOutExpr(GraftShims.expression(v), maxdd))
  }

  /** An assembled point trip (`t`/`x`/`y` arrays, e.g. a `PSeq`) as a
    * linear, closed-bounds temporal sequence ([[Assembly.tpointVal]]):
    * one pass into an `UnsafeRow` ([[TGeomBridge.pointVal]]). Never null,
    * like the `struct` it replaced. */
  case class TGeompointValExpr(child: Expression, srid: Int)
      extends UnaryExpression {
    override def dataType: DataType = TGeomBridge.pointValType
    override def nullable: Boolean = false
    override def prettyName: String = "tgeompoint_val"

    @transient private lazy val ordinals =
      TGeomBridge.pointValOrdinals(child.dataType)

    override def eval(input: InternalRow): Any =
      TGeomBridge.pointVal(child.eval(input).asInstanceOf[InternalRow],
        ordinals, srid)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
      val c = child.genCode(ctx)
      val ordRef = ctx.addReferenceObj("pointValOrdinals", ordinals, "int[]")
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.meos.TGeomBridge.pointVal(${c.isNull} ? null : ${c.value},
            $ordRef, $srid);""", isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : TGeompointValExpr = copy(child = newChild)
  }

  /** MobilityDB-layout WKB encode as a native expression
    * (`temporal_as_wkb`, temp.rs:21-28) — same schema-adaptive layout
    * resolution as [[TGeompointOutExpr]], no Row boxing. */
  case class TGeompointAsWkbExpr(child: Expression, hex: Boolean)
      extends UnaryExpression {
    override def dataType: DataType =
      if (hex) StringType else org.apache.spark.sql.types.BinaryType
    override def prettyName: String =
      if (hex) "tgeompoint_as_hexwkb_native" else "tgeompoint_as_wkb_native"

    @transient private lazy val layout =
      TGeomOutBridge.layoutOf(child.dataType)

    override def nullSafeEval(input: Any): Any =
      if (hex) WkbBridge.toHexWkb(input.asInstanceOf[InternalRow], layout)
      else WkbBridge.toWkb(input.asInstanceOf[InternalRow], layout)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val layoutRef = ctx.addReferenceObj("wkbLayout", layout,
        classOf[TGeomOutBridge.Layout].getName)
      val m = if (hex) "toHexWkb" else "toWkb"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.WkbBridge.$m($c, $layoutRef);")
    }

    override protected def withNewChildInternal(newChild: Expression)
        : TGeompointAsWkbExpr = copy(child = newChild)
  }

  /** MobilityDB-layout WKB decode as a native expression
    * (`temporal_from_wkb`/`temporal_from_hexwkb`, temp.rs:30-38): one
    * pass from the input bytes into an `UnsafeRow` ([[WkbBridge]]). */
  case class TGeompointFromWkbExpr(child: Expression, hex: Boolean)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = TGeomBridge.valDataType
    override def inputTypes: Seq[DataType] =
      Seq(if (hex) StringType else org.apache.spark.sql.types.BinaryType)
    override def prettyName: String =
      if (hex) "tgeompoint_from_hexwkb_native"
      else "tgeompoint_from_wkb_native"

    override def nullSafeEval(input: Any): Any =
      if (hex) WkbBridge.fromHexWkb(input.asInstanceOf[UTF8String])
      else WkbBridge.fromWkb(input.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val m = if (hex) "fromHexWkb" else "fromWkb"
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.WkbBridge.$m($c);")
    }

    override protected def withNewChildInternal(newChild: Expression)
        : TGeompointFromWkbExpr = copy(child = newChild)
  }

  /** Value at a timestamp ([[TGeom.valueAt]]) as a native expression:
    * the instants are read in place from the struct (ordinals resolved
    * from the input schema at plan time, as in [[TGeompointOutExpr]]), no
    * Row and no model is built. An (x, y) struct, null where the value is
    * undefined or an input is null; the timestamp input is implicitly
    * cast to TIMESTAMP like a UDF argument would be. */
  case class TGeompointValueAtExpr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def dataType: DataType = TGeomOutBridge.pointType
    override def inputTypes: Seq[DataType] =
      Seq(left.dataType, org.apache.spark.sql.types.TimestampType)
    override def nullable: Boolean = true
    override def prettyName: String = "tgeompoint_value_at"

    @transient private lazy val layout =
      TGeomOutBridge.layoutOf(left.dataType)

    override def nullSafeEval(v: Any, at: Any): Any =
      TGeomOutBridge.valueAt(v.asInstanceOf[InternalRow], layout,
        at.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val layoutRef = ctx.addReferenceObj("valueAtLayout", layout,
        classOf[TGeomOutBridge.Layout].getName)
      nullSafeCodeGen(ctx, ev, (v, at) =>
        s"${ev.value} = graft.meos.TGeomOutBridge.valueAt($v, $layoutRef, " +
          s"$at);\n${ev.isNull} = ${ev.value} == null;")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): TGeompointValueAtExpr =
      copy(left = newLeft, right = newRight)
  }

  def tgeompointValueAt(v: Column, at: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointValueAtExpr(GraftShims.expression(v),
      GraftShims.expression(at)))
  }

  /** The Int value of a literal SQL argument that configures an
    * expression at plan time — a column or a non-integer is rejected with
    * a readable message instead of an NPE deep in eval. */
  def literalInt(e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"parameter '${e.sql}' must be a literal integer " +
          "(it configures the kernel at plan time and cannot vary per row)")
    e.eval(null) match {
      case n: Number => n.intValue()
      case other =>
        throw new IllegalArgumentException(
          s"parameter '${e.sql}' must be a literal integer, " +
            s"got ${if (other == null) "NULL" else other.toString}")
    }
  }

  /** A SQL function entry: (name, usage, builder that checks the
    * argument count before building). */
  private def sqlFunction(name: String, usage: String, min: Int, max: Int)(
      build: Seq[Expression] => Expression)
      : (String, String, Seq[Expression] => Expression) =
    (name, s"$name$usage", args => {
      if (args.size < min || args.size > max)
        throw new IllegalArgumentException(
          s"$name takes ${if (min == max) s"$min" else s"$min to $max"} " +
            s"arguments, got ${args.size}")
      build(args)
    })

  /** The trip codec's SQL functions — (name, usage, native builder) —
    * bound by [[graft.GraftExtensions]] in extension sessions and by
    * [[MeosFunctions.register]] as per-session functions: one
    * implementation behind each name. */
  val codecFunctions: Seq[(String, String, Seq[Expression] => Expression)] =
    Seq(
      sqlFunction("tgeompoint_as_wkb", "(v) - MobilityDB-layout WKB bytes",
        1, 1)(a => TGeompointAsWkbExpr(a.head, hex = false)),
      sqlFunction("tgeompoint_as_hexwkb", "(v) - MobilityDB-layout hex WKB",
        1, 1)(a => TGeompointAsWkbExpr(a.head, hex = true)),
      sqlFunction("tgeompoint_from_wkb",
        "(b) - decode MobilityDB-layout WKB bytes", 1, 1)(a =>
        TGeompointFromWkbExpr(a.head, hex = false)),
      sqlFunction("tgeompoint_from_hexwkb",
        "(s) - decode MobilityDB-layout hex WKB", 1, 1)(a =>
        TGeompointFromWkbExpr(a.head, hex = true)),
      sqlFunction("tgeompoint_out",
        "(v[, maxdd]) - MEOS WKT text, maxdd (default 15) fraction digits",
        1, 2)(a =>
        TGeompointOutExpr(a.head, if (a.size > 1) literalInt(a(1)) else 15)),
      sqlFunction("tgeompoint_value_at",
        "(v, t) - (x, y) at timestamp t, null where undefined", 2, 2)(a =>
        TGeompointValueAtExpr(a.head, a(1))))

  def tgeompointAsWkb(v: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointAsWkbExpr(GraftShims.expression(v),
      hex = false))
  }

  def tgeompointAsHexWkb(v: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointAsWkbExpr(GraftShims.expression(v),
      hex = true))
  }

  def tgeompointFromWkb(b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointFromWkbExpr(GraftShims.expression(b),
      hex = false))
  }

  def tgeompointFromHexWkb(s: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointFromWkbExpr(GraftShims.expression(s),
      hex = true))
  }

  /** All LSH band keys of a float vector in ONE pass — the composed form
    * inlines bands×bitsPerBand literal ±1 arrays into a single projection
    * (an expression tree that costs more to codegen than to execute); here
    * the plane matrix rides along as a referenced object and the loop is
    * a tight double fold. Bit-identical to the composed `rhpBands`
    * (same plane derivation, same left-to-right accumulation). */
  case class RhpBandsExpr(child: Expression, dim: Int, bands: Int,
                          bitsPerBand: Int, seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(StringType, false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "rhp_bands"

    @transient private lazy val planeMatrix: Array[Array[Double]] =
      RhpBridge.planes(bands * bitsPerBand, dim, seed)

    override def nullSafeEval(input: Any): Any =
      RhpBridge.bands(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        planeMatrix, bands, bitsPerBand)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val planesRef = ctx.addReferenceObj("rhpPlanes", planeMatrix,
        "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.RhpBridge.bands($c, $planesRef, " +
          s"$bands, $bitsPerBand);")
    }

    override protected def withNewChildInternal(newChild: Expression)
        : RhpBandsExpr = copy(child = newChild)
  }

  /** All `bands` seeded minhashes of a shingle array in one native pass —
    * band i is the lexicographic-min md5 of `"i:" || shingle` (seeds are
    * band indices, rowsPerBand=1), bit-identical to the staged built-in
    * composition in [[graft.ext.Text.lshBands]] and to the DuckDB twins —
    * including the degenerate inputs: a NULL array yields a non-null array
    * of all-null bands (each band is `array_min(transform(null, …))` =
    * null, wrapped by a never-null `array(...)`), an empty array yields
    * all-null bands, and null ELEMENTS never compete for the min (md5 of
    * a null concat is null; `array_min` skips nulls). */
  case class MinhashBandsExpr(child: Expression, bands: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(StringType, true)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "minhash_bands"
    override def nullable: Boolean = false

    @transient private lazy val prefixes: Array[Array[Byte]] =
      Array.tabulate(bands)(b => s"$b:".getBytes("UTF-8"))

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.nullBands(bands)
      case arr =>
        MinhashBridge.bands(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          prefixes)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val prefRef = ctx.addReferenceObj("mhPrefixes", prefixes, "byte[][]")
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.nullBands($bands)
           |  : graft.meos.MinhashBridge.bands(${childGen.value}, $prefRef);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : MinhashBandsExpr = copy(child = newChild)
  }

  /** Fused k-shingle + seeded-minhash banding over the TOKEN array — the
    * whole `shingles(toks) |> lshBands` chain in one pass with no shingle
    * strings materialized (see [[MinhashBridge.shingleBands]]).
    * Bit-identical to the staged composition (NativeExprSpec). */
  case class MinhashShingleBandsExpr(child: Expression, shingleK: Int,
                                     bands: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(StringType, true)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "minhash_shingle_bands"
    override def nullable: Boolean = false

    @transient private lazy val prefixes: Array[Array[Byte]] =
      Array.tabulate(bands)(b => s"$b:".getBytes("UTF-8"))

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.nullBands(bands)
      case arr =>
        MinhashBridge.shingleBands(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          shingleK, prefixes)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val prefRef = ctx.addReferenceObj("mhsPrefixes", prefixes, "byte[][]")
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.nullBands($bands)
           |  : graft.meos.MinhashBridge.shingleBands(${childGen.value},
           |      $shingleK, $prefRef);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : MinhashShingleBandsExpr = copy(child = newChild)
  }

  /** Bottom-kMin seeded shingle digests fused over the token array —
    * bit-identical to `slice(array_sort(transform(shingles(toks, k),
    * g -> md5('seed:' || g))), 1, kMin)` (NativeExprSpec) — including a
    * NULL token array, which yields the composed form's EMPTY array
    * (`shingles` maps null to `array()`), not null. */
  case class ShingleBottomKExpr(child: Expression, shingleK: Int,
                                seed: Int, kMin: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(StringType, false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "shingle_bottomk"
    override def nullable: Boolean = false

    @transient private lazy val prefix: Array[Byte] =
      s"$seed:".getBytes("UTF-8")

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.emptyStrings
      case arr =>
        MinhashBridge.shingleBottomK(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          shingleK, prefix, kMin)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val prefRef = ctx.addReferenceObj("btkPrefix", prefix, "byte[]")
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.emptyStrings()
           |  : graft.meos.MinhashBridge.shingleBottomK(${childGen.value},
           |      $shingleK, $prefRef, $kMin);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : ShingleBottomKExpr = copy(child = newChild)
  }

  /** All k-gram 60-bit hash keys of a token array in one native pass —
    * bit-identical to `transform(shingles(toks, k), g ->
    * conv(substring(md5(g), 1, 15), 16, 10))` (NativeExprSpec), with no
    * gram string, hex string, or string-to-long parse materialized.
    * Position i = gram starting at token i (posexplode recovers (p, h));
    * fewer than k tokens → empty array; a NULL token array also yields
    * the composed form's EMPTY array (`shingles` maps null to `array()`),
    * not null. */
  case class ShingleHashesExpr(child: Expression, shingleK: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "shingle_hashes"
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.emptyLongs
      case arr =>
        MinhashBridge.shingleHashes(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          shingleK)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.emptyLongs()
           |  : graft.meos.MinhashBridge.shingleHashes(${childGen.value},
           |      $shingleK);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : ShingleHashesExpr = copy(child = newChild)
  }

  /** SimHash-32 over pre-computed md5 strings in one native pass —
    * bit-identical to the staged built-in composition (majority vote of
    * the high bit of hex digit p, p = 1..32). */
  /** The qm8 frame decode as a codegen'd unary expression over the raw
    * binary frame — layout and output in [[FrameDecodeBridge]]. A
    * composed HOF form exists (hex + conv + transform folds,
    * NativeExprSpec parity) but re-walks the frame once per decoded
    * field through interpreted lambdas and materializes the hex string;
    * this is one pass, zero allocation beyond the 10-long result. */
  case class FrameDecodeExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(LongType, false)
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def prettyName: String = "frame_decode"

    override def nullSafeEval(input: Any): Any =
      FrameDecodeBridge.decode(input.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.FrameDecodeBridge.decode($c);")

    override protected def withNewChildInternal(newChild: Expression)
        : FrameDecodeExpr = copy(child = newChild)
  }

  case class Simhash32Expr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = StringType
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "simhash32"

    override def nullSafeEval(input: Any): Any =
      SimhashBridge.simhash(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.SimhashBridge.simhash($c);")

    override protected def withNewChildInternal(newChild: Expression)
        : Simhash32Expr = copy(child = newChild)
  }

  /** Max k-gram multiset count per row — see [[MaxRunBridge.maxRunCount]].
    * Fewer than k tokens → 0; null token array → null. */
  case class MaxRunCountExpr(child: Expression, shingleK: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "max_run_count"

    override def nullSafeEval(input: Any): Any =
      MaxRunBridge.maxRunCount(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        shingleK)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.MaxRunBridge.maxRunCount($c, " +
          s"$shingleK);")

    override protected def withNewChildInternal(newChild: Expression)
        : MaxRunCountExpr = copy(child = newChild)
  }

  /** All w-window minima of a long array — see
    * [[WinnowBridge.slidingMin]]. Null array → empty (matching the
    * shingle-hash kernel's convention upstream of it). */
  case class SlidingMinExpr(child: Expression, w: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, false)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(org.apache.spark.sql.types.LongType))
    override def prettyName: String = "sliding_min"
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.emptyLongs
      case arr =>
        WinnowBridge.slidingMin(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.emptyLongs()
           |  : graft.meos.WinnowBridge.slidingMin(${childGen.value}, $w);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : SlidingMinExpr = copy(child = newChild)
  }

  /** CDC chunk keys of a token array — see [[CdcBridge.chunkKeys]].
    * Null array → empty (total function; qx42's tokenizer never emits
    * null arrays). */
  case class CdcChunkKeysExpr(child: Expression, mod: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "cdc_chunk_keys"
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = child.eval(input) match {
      case null => MinhashBridge.emptyLongs
      case arr =>
        CdcBridge.chunkKeys(
          arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
          mod)
    }

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val childGen = child.genCode(ctx)
      val resultCode =
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
           |  ${childGen.isNull} ? graft.meos.MinhashBridge.emptyLongs()
           |  : graft.meos.CdcBridge.chunkKeys(${childGen.value}, $mod);
         """.stripMargin
      ev.copy(
        code = childGen.code +
          org.apache.spark.sql.catalyst.expressions.codegen.Block
            .BlockHelper(new StringContext(resultCode)).code(),
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }

    override protected def withNewChildInternal(newChild: Expression)
        : CdcChunkKeysExpr = copy(child = newChild)
  }

  /** Tokens not covered by any duplicated-span interval — see
    * [[CoverageBridge.keepUncovered]]. Null on either null input (the
    * qx23 caller coalesces starts to an empty array first). */
  case class CoverageKeepExpr(left: Expression, right: Expression,
                              width: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(StringType)
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(IntegerType))
    override def prettyName: String = "coverage_keep"

    override def nullSafeEval(toks: Any, starts: Any): Any =
      CoverageBridge.keepUncovered(
        toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        starts.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        width)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.meos.CoverageBridge.keepUncovered($a, $b, " +
          s"$width);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CoverageKeepExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Per-row token-distribution entropy — see [[EntropyBridge.entropy]].
    * Null token array → null (callers guard on non-empty toks). */
  case class TokenEntropyExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def prettyName: String = "token_entropy"

    override def nullSafeEval(input: Any): Any =
      EntropyBridge.entropy(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.EntropyBridge.entropy($c);")

    override protected def withNewChildInternal(newChild: Expression)
        : TokenEntropyExpr = copy(child = newChild)
  }

  case class FloatL2Expr(left: Expression, right: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def prettyName: String = "float_l2sq"

    override def nullSafeEval(a: Any, b: Any): Any =
      L2Bridge.l2sq(
        a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.meos.L2Bridge.l2sq($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): FloatL2Expr =
      copy(left = newLeft, right = newRight)
  }

  def floatL2sq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(FloatL2Expr(GraftShims.expression(a),
      GraftShims.expression(b)))
  }

  /** Product-quantization encode: float vector → `m` 4-ish-bit cell codes
    * (the 100 TB memory story: 64 floats = 256 B down to `m` small ints).
    * The fitted codebook rides as a flat referenced object, NOT as
    * m×k×subDim literal arrays (which would blow up the expression tree —
    * same lesson as [[RhpBandsExpr]]). */
  case class PqEncodeExpr(child: Expression, cb: Array[Double], m: Int,
                          subDim: Int, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = ArrayType(IntegerType, false)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(input: Any): Any =
      PqBridge.encode(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        cb, m, subDim, k)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.meos.PqBridge.encode($c, $cbRef, " +
          s"$m, $subDim, $k);")
    }

    override protected def withNewChildInternal(newChild: Expression)
        : PqEncodeExpr = copy(child = newChild)
  }

  /** Asymmetric-distance computation against PQ codes: exact query vector
    * vs codebook reconstruction, one tight pass, no per-row allocation. */
  case class PqAdcExpr(left: Expression, right: Expression,
                       cb: Array[Double], m: Int, subDim: Int, k: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(IntegerType))
    override def prettyName: String = "pq_adc"

    override def nullSafeEval(q: Any, codes: Any): Any =
      PqBridge.adc(
        q.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        cb, m, subDim, k)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
      nullSafeCodeGen(ctx, ev, (q, c) =>
        s"${ev.value} = graft.meos.PqBridge.adc($q, $c, $cbRef, " +
          s"$m, $subDim, $k);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqAdcExpr =
      copy(left = newLeft, right = newRight)
  }

  /** Z-order (Morton) clustering key over two equi-depth-binned dims —
    * the multi-dimensional data-skipping layout: rows close in BOTH dims
    * land in the same parquet files, so min/max footer stats prune 2-D box
    * predicates that a single-dim sort can only prune on its lead column.
    * The fitted boundary arrays ride as referenced objects, not literals
    * (the [[RhpBandsExpr]] lesson: giant literal trees drown janino). */
  case class Zorder2Expr(left: Expression, right: Expression,
                         bx: Array[Double], by: Array[Double], bits: Int)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)
    override def prettyName: String = "zorder2"

    override def nullSafeEval(x: Any, y: Any): Any =
      ZorderBridge.z2(x.asInstanceOf[Double], y.asInstanceOf[Double],
        bx, by, bits)

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val bxRef = ctx.addReferenceObj("zorderBx", bx, "double[]")
      val byRef = ctx.addReferenceObj("zorderBy", by, "double[]")
      nullSafeCodeGen(ctx, ev, (x, y) =>
        s"${ev.value} = graft.meos.ZorderBridge.z2($x, $y, $bxRef, " +
          s"$byRef, $bits);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Zorder2Expr =
      copy(left = newLeft, right = newRight)
  }

  def zorder2(x: Column, y: Column, bx: Array[Double], by: Array[Double],
              bits: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(Zorder2Expr(GraftShims.expression(x),
      GraftShims.expression(y), bx, by, bits))
  }

  def pqEncode(v: Column, cb: Array[Double], m: Int, subDim: Int,
               k: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(PqEncodeExpr(GraftShims.expression(v), cb, m, subDim, k))
  }

  def pqAdc(q: Column, codes: Column, cb: Array[Double], m: Int, subDim: Int,
            k: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(PqAdcExpr(GraftShims.expression(q),
      GraftShims.expression(codes), cb, m, subDim, k))
  }

  def simhash32(tokenHashes: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(Simhash32Expr(GraftShims.expression(tokenHashes)))
  }

  def frameDecode(frame: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(FrameDecodeExpr(GraftShims.expression(frame)))
  }

  def minhashBands(sh: Column, bands: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(MinhashBandsExpr(GraftShims.expression(sh), bands))
  }

  def minhashShingleBands(toks: Column, shingleK: Int, bands: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(MinhashShingleBandsExpr(GraftShims.expression(toks),
      shingleK, bands))
  }

  def shingleHashes(toks: Column, shingleK: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(ShingleHashesExpr(GraftShims.expression(toks),
      shingleK))
  }

  def slidingMin(hs: Column, w: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(SlidingMinExpr(GraftShims.expression(hs), w))
  }

  def cdcChunkKeys(toks: Column, mod: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(CdcChunkKeysExpr(GraftShims.expression(toks), mod))
  }

  def shingleBottomK(toks: Column, shingleK: Int, seed: Int,
                     kMin: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(ShingleBottomKExpr(GraftShims.expression(toks),
      shingleK, seed, kMin))
  }

  def tokenEntropy(toks: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TokenEntropyExpr(GraftShims.expression(toks)))
  }

  def maxRunCount(toks: Column, shingleK: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(MaxRunCountExpr(GraftShims.expression(toks),
      shingleK))
  }

  def coverageKeep(toks: Column, starts: Column, width: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(CoverageKeepExpr(GraftShims.expression(toks),
      GraftShims.expression(starts), width))
  }

  def rhpBands(v: Column, dim: Int, bands: Int, bitsPerBand: Int,
               seed: Long = 42L): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(RhpBandsExpr(GraftShims.expression(v), dim, bands,
      bitsPerBand, seed))
  }

  def floatDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(FloatDotExpr(GraftShims.expression(a),
      GraftShims.expression(b)))
  }

  /** Column-level API. */
  def tgeompointParse(wkt: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(TGeompointParseExpr(GraftShims.expression(wkt)))
  }

  /** SQL registration (native builder, not a UDF). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "tgeompoint_parse", exprs => TGeompointParseExpr(exprs.head),
      "built-in")
}
