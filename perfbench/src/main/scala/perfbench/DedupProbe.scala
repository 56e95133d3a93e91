package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Text}

/** The [EXT] near-duplicate chain as an ext-layer probe: `Text` shingles
  * and minhash bands → `Dedup.bandedPairs` → Jaccard verify →
  * `Dedup.connectedComponents`, on seeded corpora with planted clusters.
  *
  * Each corpus has `Docs` documents; `PlantedShare` of them sit in planted
  * clusters of 2..`MaxCluster` near-copies, the rest are unrelated. Each
  * copy replaces `EditShare` of its base's tokens (at least one), which
  * keeps every pair in a cluster above `Threshold` (3-shingle Jaccard
  * ≥ 0.72 at `MinLen`), so the planted clusters are exactly the clusters
  * the chain must find. */
final class DedupProbe(seed: Long, work: File, ops: Ops) {
  import DedupProbe._

  private val vocab = (0 until Vocab).map(i => "w" + Integer.toString(i, 36))
  private val zipfCdf: Array[Double] = {
    val w = (1 to Vocab).map(r => math.pow(r, -ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(r: scala.util.Random): String = {
    val k = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(Vocab - 1, if (k >= 0) k else -k - 1))
  }

  def corpus(i: Int): Corpus = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val texts = mutable.ArrayBuffer.empty[(Array[String], Int)]
    var c = 0
    while (texts.size < Docs * PlantedShare) {
      val base = Array.fill(MinLen + r.nextInt(MaxLen - MinLen))(word(r))
      texts += ((base, c))
      val edits = math.max(1, math.round(EditShare * base.length).toInt)
      (1 until 2 + r.nextInt(MaxCluster - 1)).foreach { _ =>
        val copy = base.clone()
        r.shuffle(base.indices.toList).take(edits).foreach { k =>
          var w = word(r)
          while (w == base(k)) w = word(r)
          copy(k) = w
        }
        texts += ((copy, c))
      }
      c += 1
    }
    while (texts.size < Docs)
      texts += ((Array.fill(MinLen + r.nextInt(MaxLen - MinLen))(word(r)), -1))
    val shuffled = r.shuffle(texts.toSeq).zipWithIndex
    Corpus(shuffled.map { case ((t, _), id) => (id.toLong, t.mkString(" ")) },
      shuffled.collect { case ((_, k), id) if k >= 0 => id.toLong -> k }.toMap)
  }

  /** Corpus `i` as one `doc_id<TAB>text` file per core, the chain's input. */
  private def write(i: Int): (Corpus, File) = {
    val c = corpus(i)
    val dir = new File(work, s"docs/corpus-$i")
    dir.mkdirs()
    val files = Runtime.getRuntime.availableProcessors
    c.docs.grouped((c.docs.size + files - 1) / files).zipWithIndex.foreach { case (part, f) =>
      val out = new PrintWriter(new File(dir, s"part-$f.tsv"), "UTF-8")
      try part.foreach { case (id, t) => out.println(s"$id\t$t") } finally out.close()
    }
    (c, dir)
  }

  private val candidates, truePairs, ccMs, minhashRate = mutable.ArrayBuffer.empty[Double]

  /** One dedup pass over corpus `i`, then its output check. The first
    * `Warmup` passes pay JIT and codegen and are left out of the metrics. */
  def pass(i: Int): Unit = {
    val spark = Ctx.spark
    val trace = Ctx.trace
    import spark.implicits._
    val (c, dir) = write(i)
    val op = s"probe.dedup-$i"
    val res = trace.op(op) {
      ops.attempt("dedup", op) {
        // shingles feed both the bands and the verify join: computed once
        val withSh = spark.read.schema("doc_id BIGINT, text STRING").option("sep", "\t")
          .csv(dir.getPath).select(col("doc_id"), Text.tokens(col("text")).as("toks"))
          .select(col("doc_id"), Text.shingles(col("toks"), ShingleK).as("sh"))
          .persist()
        try {
          val (verified, cand) = trace.span("ext", "Text+bandedPairs+jaccard") {
            val sig = withSh.select(col("doc_id"), explode(Text.lshBands(col("sh"), Bands)).as("band"))
            val a = withSh.select(col("doc_id").as("d1"), col("sh").as("sh1"))
            val b = withSh.select(col("doc_id").as("d2"), col("sh").as("sh2"))
            val s = Dedup.bandedPairs(sig).join(a, "d1").join(b, "d2")
              .select(col("d1"), col("d2"), Text.jaccard(col("sh1"), col("sh2")).as("j"))
              .as[(Long, Long, Double)].collect()
            (s.filter(_._3 >= Threshold).map(p => (p._1, p._2)), s.length)
          }
          val t0 = System.nanoTime()
          val labels = trace.span("ext", "Dedup.connectedComponents")(
            Dedup.connectedComponents(verified.toSeq.toDF("d1", "d2")).as[(Long, Long)].collect())
          val cc = (System.nanoTime() - t0) / 1e6
          val mh = trace.span("ext", "Text.lshBands+noop") {
            val t1 = System.nanoTime()
            withSh.select(Text.lshBands(col("sh"), Bands)).write.format("noop").mode("overwrite").save()
            c.docs.size / ((System.nanoTime() - t1) / 1e9)
          }
          (labels, cand, verified.length, cc, mh)
        } finally {
          graft.Materialize.releaseAll(spark)
          withSh.unpersist(blocking = false)
        }
      }
    }
    res.foreach { case ((labels, cand, trueN, cc, mh), _) =>
      if (i >= Warmup) {
        candidates += cand; truePairs += trueN; ccMs += cc; minhashRate += mh
      }
      check(c, labels).foreach(ops.fail("dedup", op, _))
    }
  }

  /** Every planted cluster comes back whole, and no component joins two
    * planted clusters or takes in an unrelated document. */
  private def check(c: Corpus, labels: Array[(Long, Long)]): Option[String] = {
    val label = labels.toMap
    val split = c.cluster.groupBy(_._2).collectFirst {
      case (k, m) if m.keys.map(label.get).toSet.size != 1 || !label.contains(m.keys.head) =>
        s"planted cluster $k (${m.size} docs) not recovered whole"
    }
    val merged = label.groupBy(_._2).collectFirst {
      case (comp, m) if m.keys.map(c.cluster.get).toSet.size != 1 ||
          m.keys.exists(d => !c.cluster.contains(d)) =>
        s"component $comp merges beyond the planted clusters"
    }
    split.orElse(merged)
  }

  private def med(b: mutable.ArrayBuffer[Double]) = if (b.isEmpty) 0.0 else Stats.median(b.toSeq)
  def layers: Map[String, Double] = Map(
    "ext.minhash.docs_per_s" -> med(minhashRate),
    "ext.bands.candidates" -> med(candidates),
    "ext.bands.true_pairs" -> med(truePairs),
    "ext.cc.ms" -> med(ccMs))
}

object DedupProbe {
  /** Documents (id, text) and each planted document's cluster. */
  final case class Corpus(docs: Seq[(Long, String)], cluster: Map[Long, Int])

  val Passes = 3
  val Warmup = 1
  val Docs = 1500
  val PlantedShare = 0.2
  val MaxCluster = 6
  val EditShare = 0.02
  val Vocab = 5000
  val ZipfS = 0.8
  val MinLen = 40
  val MaxLen = 120
  val ShingleK = 3
  val Bands = 12
  val Threshold = 0.5
}
