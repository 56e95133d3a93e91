package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

/** [[Stage]]: one writer per (fact, key), memoized empty outcomes, failed
  * writes retried, nested stagings, and the shutdown-hook cleanup — each
  * on a private stage whose roots live in a throwaway dir, so the
  * process-wide stage the queries use is left alone. */
class StageSpec extends SparkTestBase {

  private def freshStage(): (Stage, Path) = {
    val parent = tempDir("stage-spec")
    (new Stage(parent, Some(parent.resolve("shm"))), parent)
  }

  private def dirsUnder(root: Path, prefix: String): Seq[File] =
    Option(root.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))

  test("8 racing callers of one key run the write once and share its dir") {
    val (stage, _) = freshStage()
    val writes = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          stage("fact", "k") { d =>
            writes.incrementAndGet()
            Thread.sleep(200)
            Files.write(new File(d, "part").toPath, Array[Byte](1, 2, 3))
            Some(d)
          }
        })
      }
      start.countDown()
      val paths = results.map(_.get(30, TimeUnit.SECONDS))
      assert(writes.get == 1)
      assert(paths.distinct.size == 1 && paths.head.isDefined)
      assert(dirsUnder(stage.root, "fact").map(_.toString) ==
        Seq(paths.head.get))
      val events = stage.drainEvents()
      assert(events.size == 8)
      assert(events.count(!_.hit) == 1)
      assert(events.forall(_.bytes == 3))
    } finally pool.shutdownNow()
  }

  test("an empty outcome is memoized: its write runs once") {
    val (stage, _) = freshStage()
    val writes = new AtomicInteger()
    val got = (1 to 3).map(_ => stage("empty", "k") { _ =>
      writes.incrementAndGet(); Option.empty[String]
    })
    assert(got.forall(_.isEmpty))
    assert(writes.get == 1)
    assert(stage.drainEvents().map(_.hit) == Seq(false, true, true))
  }

  test("a throwing write leaves no dir and the next call writes again") {
    val (stage, _) = freshStage()
    val writes = new AtomicInteger()
    def call() = stage("flaky", "k") { d =>
      Files.write(new File(d, "partial").toPath, Array[Byte](1))
      if (writes.incrementAndGet() == 1) sys.error("write failed")
      Some(d)
    }
    assert(intercept[RuntimeException](call()).getMessage == "write failed")
    assert(dirsUnder(stage.root, "flaky").isEmpty)
    val d = call().get
    assert(writes.get == 2)
    assert(dirsUnder(stage.root, "flaky").map(_.toString) == Seq(d))
    assert(call().get == d && writes.get == 2)
  }

  test("a write that stages a second fact completes") {
    val (stage, _) = freshStage()
    val outer = stage("outer", "k") { d =>
      val inner = stage.dir("inner", "k") { i =>
        Files.write(new File(i, "x").toPath, Array[Byte](1))
      }
      Some(s"$d+$inner")
    }.get
    val inner = stage.dir("inner", "k")(_ => sys.error("not memoized"))
    assert(outer.endsWith(s"+$inner"))
    assert(stage.drainEvents().map(e => (e.fact, e.hit)) ==
      Seq(("inner", false), ("outer", false), ("inner", true)))
  }

  test("the shutdown-hook body deletes every staged dir and the " +
    "checkpoint root") {
    val (stage, parent) = freshStage()
    Files.createDirectory(parent.resolve("shm"))
    val staged = stage.dir("a", "k") { d =>
      Files.write(new File(d, "f").toPath, Array[Byte](1))
    }
    val scratch = stage.scratch("s")
    val ckpt = stage.ckptRoot
    assert(ckpt.getParent == parent.resolve("shm"))
    Files.createDirectories(ckpt.resolve("q1/state"))
    stage.cleanup()
    Seq(new File(staged).toPath, scratch, stage.root, ckpt)
      .foreach(p => assert(!Files.exists(p), s"$p survived"))
  }

  test("ADVICE r17 #3: a zero-pair gram-overlap fact is staged once") {
    import spark.implicits._
    val dir = tempDir("stage-zero-pair").toString
    // no two docs share a token, so no 3-gram overlaps
    (1L to 12L).map(i => (i, (1 to 6).map(w => s"w${i}x$w").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Stage.drainEvents()
    val staged = dirsUnder(Stage.root, "qx33-overlap").size
    val q = SparkEntry.queries("qx47_containment")
    assert(q(spark, dir).count() == 0)
    assert(q(spark, dir).count() == 0)
    val events = Stage.drainEvents().filter(_.fact == "qx33-overlap")
    assert(events.map(_.hit) == Seq(false, true))
    assert(dirsUnder(Stage.root, "qx33-overlap").size == staged + 1)
  }
}
