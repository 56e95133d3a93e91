package graft

import java.nio.file.{Files, Path}

/** Per-JVM staging of shared per-dir facts: a fact is computed once per
  * key (an input dir, or a dir plus a parameter) by a write into a fresh
  * directory — a parquet copy, replay chunks, a layout variant — and every
  * later call in the JVM shares the result.
  *
  * Contract of `Stage(fact, key)(write)`:
  *  - One writer per (fact, key). Concurrent callers wait on a per-key
  *    cell, which is forced outside the map's lock (so a write may stage
  *    another fact), and all of them get the one result.
  *  - `write` gets a fresh dir and returns `Some(value)`, or `None` when
  *    the input is empty and there is nothing to stage (a parquet dir
  *    without part files reads back schemaless). Both outcomes are
  *    memoized.
  *  - A write that throws has its dir deleted and is not memoized: the
  *    next call writes again.
  *  - A hit is one map read: no Spark job and no file listing.
  *  - Every call that returns records one [[Stage.Event]];
  *    [[drainEvents]] hands them to the bench sidecar.
  *
  * A fact must be a deterministic function of its key, so the staged
  * value is what any caller would have computed itself. Every staged and
  * [[scratch]] dir lives under one per-JVM root in `java.io.tmpdir`; one
  * shutdown hook deletes it and the streaming [[ckptRoot]].
  */
class Stage(tmpParent: Path, shmParent: Option[Path]) {

  private final class Cell {
    // `value` and `bytes` are published by the volatile write of `done`
    var value: Option[Any] = None
    var bytes = 0L
    @volatile var done = false
    var failed = false
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), Cell]()
  private val events = new EventLog[Stage.Event](4096)

  def apply[A](fact: String, key: Any)(write: String => Option[A])
      : Option[A] = {
    val t0 = System.nanoTime()
    val k = (fact, key)
    val seen = cells.get(k)
    val cell =
      if (seen != null) seen else cells.computeIfAbsent(k, _ => new Cell)
    val miss = !cell.done && cell.synchronized {
      if (cell.done) false
      else if (cell.failed) return apply(fact, key)(write)
      else {
        val d = Files.createTempDirectory(root, fact)
        try {
          cell.value = write(d.toString)
          cell.bytes = Stage.bytes(d)
        } catch {
          case e: Throwable =>
            cell.failed = true
            cells.remove(k, cell)
            Stage.delete(d)
            throw e
        }
        cell.done = true
        true
      }
    }
    events.record(Stage.Event(fact, key.toString, cell.bytes,
      (System.nanoTime() - t0) / 1e6, hit = !miss))
    cell.value.asInstanceOf[Option[A]]
  }

  /** A fact that is its staged dir and is never empty. */
  def dir(fact: String, key: Any)(write: String => Unit): String =
    apply(fact, key) { d => write(d); Some(d) }.get

  /** A dir for a write's intermediate files; it is deleted with the
    * root. */
  def scratch(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** The events recorded since the last drain, oldest first. */
  def drainEvents(): Seq[Stage.Event] = events.drain()

  private var roots = List.empty[Path]

  private def newRoot(parent: Path, prefix: String): Path = synchronized {
    if (roots.isEmpty) sys.addShutdownHook(cleanup())
    val p = Files.createTempDirectory(parent, prefix)
    roots ::= p
    p
  }

  lazy val root: Path = newRoot(tmpParent, "graft-stage")

  /** The streaming replays' shared checkpoint root. A trigger-once
    * replay's cost is dominated by state-store and offset/commit-log
    * fsyncs, so the root sits on tmpfs when one is writable. */
  lazy val ckptRoot: Path = newRoot(
    shmParent.filter(p => Files.isDirectory(p) && Files.isWritable(p))
      .getOrElse(tmpParent), "graft-ckpt")

  /** The shutdown hook's body: deletes every root this stage created. */
  def cleanup(): Unit = synchronized { roots.foreach(Stage.delete) }
}

object Stage extends Stage(
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
    Some(java.nio.file.Paths.get("/dev/shm"))) {

  /** One staging call: `ms` is the time the call took, `bytes` the
    * staged dir's size. */
  final case class Event(fact: String, key: String, bytes: Long,
                         ms: Double, hit: Boolean)

  private def walk[A](p: Path)(f: java.util.stream.Stream[Path] => A): A = {
    val s = Files.walk(p)
    try f(s) finally s.close()
  }

  private def bytes(p: Path): Long = walk(p)(
    _.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum)

  /** Best effort: a dir that vanished or a file that cannot be removed
    * must not mask the failure or shutdown that called this. */
  private def delete(p: Path): Unit = scala.util.Try(
    walk(p)(_.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))))
}

/** A bounded in-memory event log for the bench sidecar: `record` is safe
  * from any thread, and `drain` hands back the events recorded since the
  * last drain, oldest first. Past `max` undrained events the oldest are
  * dropped, so an undrained log stays small. */
final class EventLog[A](max: Int) {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[A]()
  private val n = new java.util.concurrent.atomic.AtomicInteger()

  def record(e: A): Unit = {
    events.add(e)
    if (n.incrementAndGet() > max && events.poll() != null) n.decrementAndGet()
  }

  def drain(): Seq[A] =
    Iterator.continually(events.poll()).takeWhile(_ != null)
      .map { e => n.decrementAndGet(); e }.toSeq
}
