package graft

import org.apache.spark.sql.functions._

import graft.meos.Assembly
import graft.ext.Text

/** Scale-path equivalences: by-key assembly must equal single-phase at
  * every input partitioning; fast (xxhash) LSH banding must produce the
  * same candidate pairs as the md5 variant on identical inputs (same
  * min-shingle → same bucketing behavior statistically; here we check
  * exact-dup detection). */
class SkewSpec extends SparkTestBase {

  private val Parts = Seq(1, 3, 16)

  test("by-key assembly == single-phase assembly, at 1, 3 and 16 input " +
    "partitions") {
    val ev = Tables.events(spark, sfDir)
    def collect(res: org.apache.spark.sql.DataFrame) =
      res.collect().map(r => r.getLong(0) ->
        (r.getAs[scala.collection.Seq[Long]]("t"),
          r.getAs[scala.collection.Seq[Double]]("v"))).toMap
    val asm = Assembly.tfloatAssemble()
    val single = collect(ev.groupBy("user_id")
      .agg(asm(unix_micros(col("ts")), col("event_id"), col("value")).as("s"))
      .select(col("user_id"), col("s.t").as("t"), col("s.v").as("v")))
    Parts.foreach { parts =>
      val byKey = collect(Assembly.tfloatAssembleByKey(ev.repartition(parts),
        col("user_id"), unix_micros(col("ts")), col("event_id"), col("value"))
        .select(col("k"), col("s.t").as("t"), col("s.v").as("v")))
      assert(byKey.keySet == single.keySet, s"parts $parts")
      single.foreach { case (k, (t, v)) =>
        assert(byKey(k)._1 == t, s"parts $parts: user $k timestamps differ")
        assert(byKey(k)._2 == v, s"parts $parts: user $k values differ")
      }
    }
  }

  test("by-key == single-phase under duplicate timestamps and a size cap " +
    "(the reducer's merge keeps the smallest-tie posit)") {
    // duplicate timestamps with DIFFERENT values and ties, rows ordered
    // copy-major so a timestamp's copies land in different input
    // partitions; cap at 5 of 8 distinct ts
    val rows = for {
      dup <- 0L until 3L; k <- Seq(1L, 2L); t <- 0L until 8L
    } yield (k, t * 1000000L, t * 100 + dup * 7 + k, (t * 10 + dup).toDouble)
    def collect(res: org.apache.spark.sql.DataFrame, keyCol: String) =
      res.select(col(keyCol), col("s.t").as("t"), col("s.v").as("v"))
        .collect().map(r => r.getLong(0) ->
          (r.getAs[scala.collection.Seq[Long]]("t"),
            r.getAs[scala.collection.Seq[Double]]("v"))).toMap
    val asm = Assembly.tfloatAssemble(maxSize = 5)
    Parts.foreach { parts =>
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows,
        parts)).toDF("k0", "us", "tie", "v")
      val single = collect(df.groupBy("k0")
        .agg(asm(col("us"), col("tie"), col("v")).as("s"))
        .withColumnRenamed("k0", "k"), "k")
      val byKey = collect(Assembly.tfloatAssembleByKey(df,
        col("k0"), col("us"), col("tie"), col("v"), maxSize = 5), "k")
      assert(byKey == single, s"parts $parts")
      assert(single.values.forall(_._1.length == 5))
    }
  }

  test("mega-key (1e6 posits) assembles by key with bounded per-task " +
    "state (cap applied map-side and at the reducer)") {
    val n = 1000000L
    val df = spark.range(n).select(
      lit(42L).as("k0"),
      (col("id") * 1000000L).as("us"),
      col("id").as("tie"),
      col("id").cast("double").as("v"))
    val out = Assembly.tfloatAssembleByKey(df,
      col("k0"), col("us"), col("tie"), col("v"), maxSize = 10000)
      .select(col("k"), col("s.n").as("n"), col("s.t").as("t"))
      .collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 10000L)
    // the cap keeps the EARLIEST distinct timestamps
    val ts = out(0).getAs[scala.collection.Seq[Long]]("t")
    assert(ts.head == 0L && ts.last == 9999L * 1000000L)
  }

  test("bucketed interval join == nested-loop box-overlap join") {
    import graft.meos.Boxes
    val boxes = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(Boxes.tboxAgg(col("value"), col("ts")).as("box"))
      .select(col("user_id").as("id"), col("box"))
    val a = boxes.select(col("id").as("u1"), col("box").as("b1"))
    val c = boxes.select(col("id").as("u2"), col("box").as("b2"))
    val nested = a.join(c,
      col("u1") < col("u2") && Boxes.tboxOverlaps(col("b1"), col("b2")))
      .select(col("u1"), col("u2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Boxes.tboxOverlapJoinBucketed(boxes, boxes,
      java.time.Duration.ofDays(2))
      .where(col("idA") < col("idB"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == nested)
    assert(nested.nonEmpty)
  }

  test("auto-width bucketed join (median box duration) == nested-loop") {
    import graft.meos.Boxes
    val boxes = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(Boxes.tboxAgg(col("value"), col("ts")).as("box"))
      .select(col("user_id").as("id"), col("box"))
    val a = boxes.select(col("id").as("u1"), col("box").as("b1"))
    val c = boxes.select(col("id").as("u2"), col("box").as("b2"))
    val nested = a.join(c,
      col("u1") < col("u2") && Boxes.tboxOverlaps(col("b1"), col("b2")))
      .select(col("u1"), col("u2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Boxes.tboxOverlapJoinBucketedAuto(boxes, boxes,
      (x, y) => x < y)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == nested)
  }

  test("hot time bucket: 2-D value cells keep the candidate set " +
      "sub-quadratic and the result exact") {
    import spark.implicits._
    import graft.meos.Boxes
    // 400 boxes ALL inside one 7-day window (one globally hot time
    // bucket) with short disjoint-ish value spans — the adversarial case
    // where 1-D time bucketing degrades to per-bucket all-pairs
    val n = 400
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val boxes = (0 until n).map { i =>
      val v0 = (i % 100).toDouble
      (i.toLong, v0, v0 + 1.5,
        new java.sql.Timestamp(base + (i % 7) * 3600L * 1000),
        new java.sql.Timestamp(base + (i % 7 + 24) * 3600L * 1000))
    }.toDF("id", "vmin", "vmax", "tmin", "tmax")
      .select(col("id"), Boxes.tbox(col("vmin"), col("vmax"),
        col("tmin"), col("tmax")).as("box"))
    val a = boxes.select(col("id").as("u1"), col("box").as("b1"))
    val c = boxes.select(col("id").as("u2"), col("box").as("b2"))
    val nested = a.join(c,
      col("u1") < col("u2") && Boxes.tboxOverlaps(col("b1"), col("b2")))
      .select(col("u1"), col("u2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val week = java.time.Duration.ofDays(7)
    val flat = Boxes.bucketedCandidates(boxes, boxes, week, None).count()
    val twoD = Boxes.bucketedCandidates(boxes, boxes, week, Some(2.0))
      .count()
    // 1-D: every box shares the single hot bucket -> ~n² candidates;
    // 2-D: value cells bound it to pairs sharing a value cell
    assert(flat >= n.toLong * n / 2, s"expected ~quadratic 1-D, got $flat")
    assert(twoD < flat / 10,
      s"2-D cells did not tame the hot bucket: $twoD vs $flat")

    val guarded = Boxes.tboxOverlapJoinBucketed(boxes, boxes, week,
      (x, y) => x < y, valueWidth = Some(2.0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == nested)
    assert(nested.nonEmpty)

    // the auto variant's twoD switch wires the same guard from medians
    val auto2d = Boxes.tboxOverlapJoinBucketedAuto(boxes, boxes,
      (x, y) => x < y, twoD = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto2d == nested)
  }

  test("3-D STBox aggregate carries the Z extent (STBOX Z projection)") {
    import spark.implicits._
    import graft.meos.Boxes
    val df = Seq(
      (1L, 0.0, 10.0, -5.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, 4.0, 2.0, 7.0, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("k", "x", "y", "z", "t")
    val r = df.groupBy("k")
      .agg(Boxes.stboxAggZ(col("x"), col("y"), col("z"), col("t")).as("b"))
      .select("b.zmin", "b.zmax", "b.xmin", "b.ymax").collect()(0)
    assert(r.getDouble(0) == -5.0 && r.getDouble(1) == 7.0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 10.0)
  }

  test("fast xxhash LSH banding finds exact duplicates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different content with other words here"))
      .toDF("doc_id", "text")
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("sh", Text.shingles(col("toks")))
      .select(col("doc_id"),
        explode(Text.lshBandsFast(col("sh"), bands = 4)).as("band"))
    val pairs = docs.as("a").join(docs.as("b"),
      col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }
}
