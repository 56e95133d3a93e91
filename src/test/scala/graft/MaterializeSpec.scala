package graft

import org.apache.spark.sql.functions._

/** The shared lineage-cut helper: localCheckpoint fallback without a
  * checkpoint dir, RELIABLE checkpoint (files in the dir) once one is
  * configured — and identical data either way. */
class MaterializeSpec extends SparkTestBase {

  test("cut preserves data (no checkpoint dir: localCheckpoint leg)") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite assumes no checkpoint dir was configured yet")
    val df = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val cut = Materialize.cut(df)
    assert(cut.as[(Int, Int)].collect().sortBy(_._1).toSeq ==
      (1 to 100).map(i => (i, i * 2)))
  }

  test("cut uses a reliable checkpoint once a dir is configured") {
    import spark.implicits._
    val dir = SparkTestBase.contextDir("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val df = (1 to 100).toDF("x")
    val cut = Materialize.cut(df, eager = true)
    assert(cut.count() == 100)
    def files(p: java.io.File): Seq[java.io.File] = {
      val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids ++ kids.filter(_.isDirectory).flatMap(files)
    }
    assert(files(new java.io.File(dir)).exists(_.isFile),
      s"no checkpoint files written under $dir — cut used localCheckpoint " +
        "despite a configured checkpoint dir")
  }

  test("connected components agree across both cut legs") {
    import spark.implicits._
    // checkpoint dir is set by the previous test (shared session) — this
    // exercises the reliable leg of Dedup's supersteps end-to-end
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val cc = ext.Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
