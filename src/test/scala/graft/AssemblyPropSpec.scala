package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meos.Assembly

/** Properties of the by-key assembly on generated posit tables (fixed
  * seeds, bounded sizes): it equals single-phase assembly for points and
  * floats, its output does not depend on how the rows are partitioned or
  * ordered, and its carried last value is `max_by(c, struct(t, tie))`.
  * Each table has duplicate timestamps with different ties (so across
  * input partitions, whose runs the reducer merges), identical-content
  * duplicate rows and null carried values; every property runs over 1, 3
  * and 16 input partitions and at caps 0 (none) and 3. */
class AssemblyPropSpec extends SparkTestBase {

  private val Samples = 40
  private val Parts = Seq(1, 3, 16)
  private val Caps = Seq(0, 3)

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("t", LongType), StructField("tie", LongType),
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("c", IntegerType)))

  /** One key's posits: timestamps from a narrow range (many repeat), a
    * unique tie per distinct posit (an odd multiplier spreads them over
    * both signs), a third of the posits repeated once or twice
    * verbatim. */
  private def genKey(k: Long): Gen[Seq[Row]] = for {
    n <- Gen.choose(1, 30)
    ts <- Gen.listOfN(n, Gen.choose(-5L, 20L).map(_ * 1000000L))
    xs <- Gen.listOfN(n, Gen.choose(-180.0, 180.0))
    ys <- Gen.listOfN(n, Gen.choose(-90.0, 90.0))
    cs <- Gen.listOfN(n, Gen.frequency(4 -> Gen.choose(0, 99).map(Int.box),
      1 -> Gen.const(null)))
    dups <- Gen.listOfN(n, Gen.frequency(4 -> 0, 1 -> 1, 1 -> 2))
  } yield ts.indices.flatMap { i =>
    val r = Row(k, ts(i), (k * 1000 + i) * 0x9E3779B97F4A7C15L, xs(i),
      ys(i), cs(i))
    Seq.fill(1 + dups(i))(r)
  }

  private val rows: Seq[Row] = (0 until Samples).flatMap { s =>
    Gen.choose(1, 4).flatMap(nk => Gen.sequence[Seq[Seq[Row]], Seq[Row]](
      (0 until nk).map(j => genKey(s * 10L + j))).map(_.flatten))
      .pureApply(Gen.Parameters.default, Seed(s.toLong))
  }

  private def frame(rs: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), schema)

  private lazy val df = frame(rows, 2)
  /** The same rows shuffled, over `parts` partitions. */
  private def shuffled(parts: Int): DataFrame =
    frame(new scala.util.Random(7).shuffle(rows), parts)

  private def seqs(r: Row): Seq[Any] =
    (0 until r.length).map(r.get).map {
      case a: scala.collection.Seq[_] => a.toSeq
      case o => o
    }

  /** key → the `s` struct's fields (and `last`, when asked for). */
  private def collectByKey(res: DataFrame, withLast: Boolean)
      : Map[Long, Seq[Any]] =
    res.collect().map { r =>
      r.getLong(0) -> (seqs(r.getStruct(1)) ++
        (if (withLast) Seq(r.get(2)) else Nil))
    }.toMap

  /** key → single-phase points (x, y) and floats (x) at `cap`. */
  private def singlePhase(d: DataFrame, cap: Int)
      : (Map[Long, Seq[Any]], Map[Long, Seq[Any]]) = {
    val pt = Assembly.tpointAssemble(cap)
    val fl = Assembly.tfloatAssemble(cap)
    (collectByKey(d.groupBy("k")
      .agg(pt(col("t"), col("tie"), col("x"), col("y")).as("s")),
      withLast = false),
      collectByKey(d.groupBy("k")
        .agg(fl(col("t"), col("tie"), col("x")).as("s")), withLast = false))
  }

  private def byKeyPoints(d: DataFrame, cap: Int, last: Boolean = false) =
    collectByKey(Assembly.tpointAssembleByKey(d, col("k"), col("t"),
      col("tie"), col("x"), col("y"), maxSize = cap,
      last = if (last) Some(col("c")) else None), withLast = last)

  private def byKeyFloats(d: DataFrame, cap: Int, v: String = "x") =
    collectByKey(Assembly.tfloatAssembleByKey(d, col("k"), col("t"),
      col("tie"), col(v), maxSize = cap), withLast = false)

  test("by-key == single-phase for points and floats, at every input " +
    "partitioning and cap") {
    assert(rows.map(_.getLong(0)).distinct.size > 60)
    Caps.foreach { cap =>
      val (single, singleF) = singlePhase(df, cap)
      // the cap bites on some keys and not on others
      if (cap > 0) assert(single.values.exists(_.last == cap.toLong) &&
        single.values.exists(_.last.asInstanceOf[Long] < cap))
      Parts.foreach { parts =>
        val d = frame(rows, parts)
        assert(byKeyPoints(d, cap) == single, s"points, parts $parts, cap $cap")
        assert(byKeyFloats(d, cap) == singleF,
          s"floats, parts $parts, cap $cap")
      }
    }
  }

  /** `body` with the object-hash aggregate falling back to sort-based
    * aggregation after one key, so every buffer goes through its byte
    * form on both sides of the exchange. */
  private def sortBased[A](body: => A): A = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the by-key output does not depend on partitioning, row order or " +
    "sort-based fallback") {
    for (cap <- Caps; parts <- Parts) {
      assert(sortBased(byKeyPoints(shuffled(parts), cap, last = true)) ==
        byKeyPoints(df, cap, last = true), s"parts $parts, cap $cap")
      assert(sortBased(byKeyFloats(shuffled(parts), cap, v = "y")) ==
        byKeyFloats(df, cap, v = "y"), s"floats, parts $parts, cap $cap")
    }
  }

  test("the carried last value == max_by(c, struct(t, tie)), nulls " +
    "included") {
    val want = df.groupBy("k")
      .agg(max_by(col("c"), struct(col("t"), col("tie"))).as("c"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(want.values.exists(_ == null) && want.values.exists(_ != null))
    for (cap <- Caps; parts <- Parts) {
      val got = Assembly.tpointAssembleByKey(frame(rows, parts), col("k"),
        col("t"), col("tie"), col("x"), col("y"), maxSize = cap,
        last = Some(col("c")))
      assert(got.columns.toSeq == Seq("k", "s", "last"))
      assert(got.schema("s").dataType == Assembly.tpointAssembleByKey(df,
        col("k"), col("t"), col("tie"), col("x"), col("y")).schema("s")
        .dataType)
      assert(got.collect().map(r => r.getLong(0) -> r.get(2)).toMap == want,
        s"parts $parts, cap $cap")
    }
  }

  test("one key in every input partition, each timestamp's duplicates " +
    "with different ties in different partitions: the smallest tie wins") {
    for (parts <- Parts; cap <- Caps) {
      // partition d holds copy d of every timestamp (parallelize slices
      // contiguously); the smallest tie of timestamp t sits in partition
      // (parts - t % parts) % parts, so every partition wins somewhere
      val rs = for (d <- 0 until parts; t <- 0 until 12) yield
        Row(1L, t * 1000000L, ((d + t) % parts) * 100L + d,
          t * 10.0 + d, -t.toDouble, d * 100 + t)
      val in = frame(rs, parts)
      assert(in.rdd.mapPartitions(it => Iterator(it.size)).collect()
        .toSeq == Seq.fill(parts)(12))
      val (single, singleF) = singlePhase(in, cap)
      assert(byKeyPoints(in, cap) == single, s"parts $parts, cap $cap")
      assert(byKeyFloats(in, cap) == singleF, s"parts $parts, cap $cap")
      val n = if (cap > 0) cap else 12
      val want = Seq((0 until n).map(_ * 1000000L),
        (0 until n).map(t => t * 10.0 + (parts - t % parts) % parts),
        (0 until n).map(-_.toDouble), n.toLong,
        100 * ((parts - 11 % parts + parts - 1) % parts) + 11)
      assert(byKeyPoints(in, cap, last = true) == Map(1L -> want),
        s"parts $parts, cap $cap")
    }
  }
}
