package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meos.Assembly

/** Properties of the salted two-phase assembly on generated posit tables
  * (fixed seeds, bounded sizes): it equals single-phase assembly for
  * points and floats, its output does not depend on how the rows are
  * partitioned or ordered, and its carried last value is
  * `max_by(c, struct(t, tie))`. Each table has duplicate timestamps
  * with different ties (so across salt groups), identical-content
  * duplicate rows and null carried values; every property runs at salts
  * 1, 3 and 16 and caps 0 (none) and 3. */
class AssemblyPropSpec extends SparkTestBase {

  private val Samples = 40
  private val Salts = Seq(1, 3, 16)
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
  /** The same rows shuffled, over a different number of partitions. */
  private lazy val shuffled =
    frame(new scala.util.Random(7).shuffle(rows), 7)

  private def seqs(r: Row): Seq[Any] =
    (0 until r.length).map(r.get).map {
      case a: scala.collection.Seq[_] => a.toSeq
      case o => o
    }

  /** key → the `s` struct's fields (and `last`, when asked for). */
  private def collectSalted(res: DataFrame, withLast: Boolean)
      : Map[Long, Seq[Any]] =
    res.collect().map { r =>
      r.getLong(0) -> (seqs(r.getStruct(1)) ++
        (if (withLast) Seq(r.get(2)) else Nil))
    }.toMap

  test("salted == single-phase for points and floats, at every salt " +
    "count and cap") {
    assert(rows.map(_.getLong(0)).distinct.size > 60)
    Caps.foreach { cap =>
      val pt = Assembly.tpointAssemble(cap)
      val single = collectSalted(df.groupBy("k")
        .agg(pt(col("t"), col("tie"), col("x"), col("y")).as("s")),
        withLast = false)
      val fl = Assembly.tfloatAssemble(cap)
      val singleF = collectSalted(df.groupBy("k")
        .agg(fl(col("t"), col("tie"), col("x")).as("s")), withLast = false)
      // the cap bites on some keys and not on others
      if (cap > 0) assert(single.values.exists(_.last == cap.toLong) &&
        single.values.exists(_.last.asInstanceOf[Long] < cap))
      Salts.foreach { salts =>
        val salted = collectSalted(Assembly.tpointAssembleSalted(df,
          col("k"), col("t"), col("tie"), col("x"), col("y"), salts = salts,
          maxSize = cap), withLast = false)
        assert(salted == single, s"points, salts $salts, cap $cap")
        val saltedF = collectSalted(Assembly.tfloatAssembleSalted(df,
          col("k"), col("t"), col("tie"), col("x"), salts = salts,
          maxSize = cap), withLast = false)
        assert(saltedF == singleF, s"floats, salts $salts, cap $cap")
      }
    }
  }

  /** `body` with the object-hash aggregate falling back to sort-based
    * aggregation after one key, so every buffer goes through its byte
    * form in both phases. */
  private def sortBased[A](body: => A): A = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the salted output does not depend on partitioning, row order or " +
    "sort-based fallback") {
    for (cap <- Caps; salts <- Salts) {
      def run(d: DataFrame) = collectSalted(Assembly.tpointAssembleSalted(d,
        col("k"), col("t"), col("tie"), col("x"), col("y"), salts = salts,
        maxSize = cap, last = Some(col("c"))), withLast = true)
      assert(sortBased(run(shuffled)) == run(df), s"salts $salts, cap $cap")
      def runF(d: DataFrame) = collectSalted(Assembly.tfloatAssembleSalted(
        d, col("k"), col("t"), col("tie"), col("y"), salts = salts,
        maxSize = cap), withLast = false)
      assert(sortBased(runF(shuffled)) == runF(df),
        s"floats, salts $salts, cap $cap")
    }
  }

  test("the carried last value == max_by(c, struct(t, tie)), nulls " +
    "included") {
    val want = df.groupBy("k")
      .agg(max_by(col("c"), struct(col("t"), col("tie"))).as("c"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(want.values.exists(_ == null) && want.values.exists(_ != null))
    for (cap <- Caps; salts <- Salts) {
      val got = Assembly.tpointAssembleSalted(df, col("k"), col("t"),
        col("tie"), col("x"), col("y"), salts = salts, maxSize = cap,
        last = Some(col("c")))
      assert(got.columns.toSeq == Seq("k", "s", "last"))
      assert(got.schema("s").dataType == Assembly.tpointAssembleSalted(df,
        col("k"), col("t"), col("tie"), col("x"), col("y")).schema("s")
        .dataType)
      assert(got.collect().map(r => r.getLong(0) -> r.get(2)).toMap == want,
        s"salts $salts, cap $cap")
    }
  }
}
