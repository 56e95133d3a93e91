package graft.meos

import java.nio.{ByteBuffer, ByteOrder}
import java.time.Instant

/** MobilityDB-layout extended WKB for temporal geometry points — the wire
  * format the reference's flagship sink ships into
  * `tgeompointFromBinary($2)` (`meos/src/temp.rs:21-28` binds
  * `temporal_as_wkb(ptr, WKB_EXTENDED, …)`; used
  * `meos-polars/examples/ais_to_db.rs:160,201`).
  *
  * Structure audited against MobilityDB v1.1.0's temporal WKB writer
  * (`meos/src/general/temporal_out.c` + reader `temporal_in.c` in the
  * public MobilityDB sources — the exact tag `mobdb.sh:16` pins):
  *
  * {{{
  *   u8   byte order        0x01 = NDR little-endian, 0x00 = XDR big
  *   u16  temptype          meosType code of the temporal type
  *   u8   flags             xSGZIITT (temporal_out.c's documented layout):
  *                          TT bits 0-1 = tempSubtype (1 instant,
  *                            2 sequence, 3 sequence set),
  *                          II bits 2-3 = interpType (0 none, 1 discrete,
  *                            2 step, 3 linear),
  *                          Z bit 4, G(eodetic) bit 5, S(RID) bit 6
  *   [i32 srid]             iff flags.S — the WKB_EXTENDED payload
  *   payload:
  *     instant:   f64 x, f64 y, [f64 z], i64 t   (base value THEN time)
  *     sequence:  i32 count, u8 bounds (0x01 lower_inc | 0x02 upper_inc),
  *                count × instant
  *     seq-set:   i32 count, count × sequence (header not repeated)
  * }}}
  *
  * Round-2 kept a best-effort layout with a SEPARATE subtype byte and
  * interp in the low flag bits; the v1.1.0 writer has no such byte — the
  * subtype and the 2-bit interpolation are PACKED into the single flags
  * byte as above. This round fixes the packing, the interp codes (the
  * wire field equals v1.1.0's `interpType` enum, which
  * [[Temporal.InterpNone]]..[[Temporal.InterpLinear]] mirror 1:1), and
  * the temptype code.
  *
  * Timestamps are int64 **microseconds since 2000-01-01 00:00:00 UTC** —
  * the PostgreSQL `TimestampTz` epoch MEOS stores and writes verbatim
  * (NOT the Unix epoch; off-by-946684800s bugs are invisible to
  * roundtrip tests, so [[PgEpochUs]] is golden-pinned in CodecSpec).
  *
  * Residual interop risk after this audit is confined to ONE constant:
  * the numeric `meosType` value of tgeompoint ([[Codes.TGeomPoint]] = 40
  * per v1.1.0's alphabetically-ordered `meos_catalog.h` enum; later
  * MobilityDB versions renumber it). Everything else — field order,
  * flag packing, interp/subtype/bounds codes, the PG epoch — is pinned
  * by byte-level goldens in CodecSpec. Confirm that one code against the
  * deployed MobilityDB major version before production writes.
  *
  * The round-1 self-describing layout remains available as
  * `TGeom.toWkbLegacy`/`fromWkbLegacy`.
  */
object MobilityWkb {

  /** Numeric codes from the MobilityDB v1.1.0 public headers/sources;
    * centralized so an interop audit touches exactly one table. */
  object Codes {
    /** meosType code for tgeompoint (`meos_catalog.h` v1.1.0: the
      * alphabetic enum puts T_TGEOMPOINT at 40, T_TGEOGPOINT at 41). */
    val TGeomPoint = 40
    /** tempSubtype (`meos.h`): instant/sequence/sequence-set — the TT
      * bits of the flags byte. */
    val SubInstant = 1
    val SubSequence = 2
    val SubSequenceSet = 3
    /** Flags byte layout xSGZIITT (`temporal_out.c`
      * temporal_flags_to_wkb_buf). */
    val SubtypeMask = 0x03
    val InterpShift = 2
    val InterpMask = 0x0C
    val FlagZ = 0x10
    val FlagGeodetic = 0x20
    val FlagSrid = 0x40
    /** sequence bounds byte (`MEOS_WKB_LOWER_INC`/`UPPER_INC`). */
    val LowerInc = 0x01
    val UpperInc = 0x02
  }

  /** Microseconds between the Unix epoch and the PostgreSQL epoch
    * (2000-01-01T00:00:00Z). */
  val PgEpochUs: Long = 946684800000000L

  private def unixUs(t: Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
      (t.getNano / 1000).toLong)
  private def toPgUs(t: Instant): Long = unixUs(t) - PgEpochUs
  private def fromPgUs(us: Long): Instant = {
    val u = us + PgEpochUs
    Instant.ofEpochSecond(Math.floorDiv(u, 1000000L),
      Math.floorMod(u, 1000000L) * 1000L)
  }

  import TGeom.{GInst, GSeq, Val, SubInstant, SubSequence, SubSequenceSet}

  def toWkb(v: Val, littleEndian: Boolean = true): Array[Byte] = {
    val hasZ = v.sequences.exists(_.instants.exists(_.z.isDefined))
    val instBytes = if (hasZ) 32 else 24
    val size = 4 + (if (v.srid != 0) 4 else 0) +
      (if (v.subtype == SubSequenceSet) 4 else 0) +
      v.sequences.map(q => 5 + q.instants.size * instBytes).sum
    val buf = ByteBuffer.allocate(size).order(
      if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    buf.put(if (littleEndian) 0x01.toByte else 0x00.toByte)
    buf.putShort(Codes.TGeomPoint.toShort)
    // xSGZIITT: instants carry interp NONE (0); sequences/sets carry the
    // value's interpType, which the internal constants mirror 1:1
    val interp = if (v.subtype == SubInstant) Temporal.InterpNone else v.interp
    var flags = (v.subtype & Codes.SubtypeMask) |
      ((interp << Codes.InterpShift) & Codes.InterpMask)
    if (hasZ) flags |= Codes.FlagZ
    if (v.srid != 0) flags |= Codes.FlagSrid
    buf.put(flags.toByte)
    if (v.srid != 0) buf.putInt(v.srid)
    def putInst(i: GInst): Unit = {
      buf.putDouble(i.x); buf.putDouble(i.y)
      if (hasZ) buf.putDouble(i.z.getOrElse(0.0))
      buf.putLong(toPgUs(i.t))
    }
    def putSeq(q: GSeq): Unit = {
      buf.putInt(q.instants.size)
      buf.put(((if (q.`lower_inc`) Codes.LowerInc else 0) |
        (if (q.`upper_inc`) Codes.UpperInc else 0)).toByte)
      q.instants.foreach(putInst)
    }
    v.subtype match {
      case SubInstant => putInst(v.sequences.head.instants.head)
      case SubSequence => putSeq(v.sequences.head)
      case SubSequenceSet =>
        buf.putInt(v.sequences.size); v.sequences.foreach(putSeq)
      case o => throw new TGeom.ParseError(s"bad subtype $o")
    }
    java.util.Arrays.copyOf(buf.array(), buf.position())
  }

  /** Decode; a buffer that ends inside the value is a [[TGeom.ParseError]]
    * (trailing bytes after a complete value are ignored). */
  def fromWkb(bytes: Array[Byte]): Val =
    try decode(bytes)
    catch {
      case _: java.nio.BufferUnderflowException |
           _: ArrayIndexOutOfBoundsException =>
        throw new TGeom.ParseError(
          s"truncated WKB: the value runs past its ${bytes.length} bytes")
    }

  private def decode(bytes: Array[Byte]): Val = {
    val order = bytes(0) match {
      case 0x01 => ByteOrder.LITTLE_ENDIAN
      case 0x00 => ByteOrder.BIG_ENDIAN
      case o => throw new TGeom.ParseError(f"bad byte-order marker 0x$o%02x")
    }
    val buf = ByteBuffer.wrap(bytes, 1, bytes.length - 1).order(order)
    val temptype = buf.getShort.toInt
    if (temptype != Codes.TGeomPoint)
      throw new TGeom.ParseError(s"unsupported temptype $temptype")
    val flags = buf.get().toInt
    val subtype = flags & Codes.SubtypeMask
    val wireInterp = (flags & Codes.InterpMask) >> Codes.InterpShift
    val hasZ = (flags & Codes.FlagZ) != 0
    val srid = if ((flags & Codes.FlagSrid) != 0) buf.getInt() else 0
    val interp =
      if (subtype == SubInstant) Temporal.InterpNone else wireInterp
    def getInst(): GInst = {
      val x = buf.getDouble(); val y = buf.getDouble()
      val z = if (hasZ) Some(buf.getDouble()) else None
      GInst(fromPgUs(buf.getLong()), x, y, z)
    }
    def getSeq(i: Int): GSeq = {
      val n = buf.getInt()
      val b = buf.get()
      GSeq((0 until n).map(_ => getInst()),
        i, (b & Codes.LowerInc) != 0, (b & Codes.UpperInc) != 0)
    }
    subtype match {
      case SubInstant =>
        Val(SubInstant, srid, interp,
          Seq(GSeq(Seq(getInst()), interp, `lower_inc` = true,
            `upper_inc` = true)))
      case SubSequence => Val(SubSequence, srid, interp, Seq(getSeq(interp)))
      case SubSequenceSet =>
        val n = buf.getInt()
        Val(SubSequenceSet, srid, interp,
          (0 until n).map(_ => getSeq(interp)))
      case o => throw new TGeom.ParseError(s"bad subtype $o")
    }
  }
}
