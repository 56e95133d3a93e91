package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", SparkTestBase.warehouse)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  val sfDir = "/root/testdata/sf0.001"

  private val dirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under `java.io.tmpdir`, deleted with its contents
    * when the suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try super.afterAll() finally dirs.forEach(SparkTestBase.delete(_))

  /** `body` with expression evaluation in `s` forced to one mode:
    * NO_CODEGEN also turns whole-stage codegen off (it would compile the
    * projection anyway); CODEGEN_ONLY keeps it on with the interpreted
    * fallback off, so a janino failure fails the test. */
  def inMode[A](mode: String, s: => SparkSession = spark)(body: => A): A = {
    val confs = Seq("spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString,
      "spark.sql.codegen.fallback" -> "false")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val Modes = Seq("NO_CODEGEN", "CODEGEN_ONLY")
}

object SparkTestBase {
  private val contextDirs = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(contextDirs.forEach(delete(_)))

  /** A new directory under `java.io.tmpdir` for a setting of the shared
    * context, which outlives the suite that made it (its warehouse, a
    * checkpoint dir): deleted with its contents when the JVM exits. */
  def contextDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    contextDirs.add(d)
    d
  }

  lazy val warehouse: String = contextDir("spark-wh").toString

  /** Best effort: a file that cannot be removed must not fail the suite. */
  private def delete(p: Path): Unit = scala.util.Try {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
