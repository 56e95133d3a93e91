package graft

import org.apache.spark.sql.functions._

import graft.ext.{Multimodal, Similarity}

/** Specs for the [EXT] paths without a DuckDB oracle: ANN recall vs the
  * exact baseline, and the multimodal decode-stub plumbing. */
class ExtSpec extends SparkTestBase {

  test("qe2 ANN recall vs brute force >= 0.6 at sf0.001") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall too low")
    // and the ANN result is far smaller work: candidates ≪ corpus
    assert(approx.nonEmpty)
  }

  test("qe4 IVF (k-means quantizer) recall@5 >= 0.9 at sf0.001") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfKnn(emb, queries, 5, nprobe = 8)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"IVF recall@5 = $recall (nprobe=8/nlist=16, 5 train iters)")
    assert(recall >= 0.9, s"IVF recall $recall too low")
  }

  test("qe10 SQ8 (scalar-quantized) recall@5 >= 0.9 at sf0.001") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.sq8Knn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"SQ8 recall@5 = $recall (shortlist=100)")
    // 8-bit per-dim quantization error is tiny relative to cosine gaps —
    // with a 100-wide shortlist the exact re-rank recovers essentially
    // everything; require the same bar as IVF
    assert(recall >= 0.9, s"SQ8 recall $recall too low")
  }

  test("qx21 hot-band cap: capped LSH pairs are a subset of the uncapped " +
    "qx3 pairs (the guard only removes work, never invents candidates)") {
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs("qx21_lsh_capped")
    val full = pairs("qx3_lsh_pairs")
    assert(capped.subsetOf(full),
      s"capped produced pairs outside the uncapped set: ${capped -- full}")
  }

  test("production band join: a planted 10k-doc hot band yields ≪ n² " +
    "candidate rows (cap drops the bucket; small buckets still pair)") {
    import spark.implicits._
    import graft.ext.{Dedup, Text}
    // 10 000 identical docs — every band bucket they form has size 10 000,
    // far over the default cap — plus one genuine near-dup pair in its own
    // small buckets. Uncapped, this corpus enumerates ≥ n(n-1)/2 ≈ 5·10⁷
    // pairs from the hot band alone.
    val hot = (0L until 10000L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pairDocs = Seq(
      (20001L, "completely different content about spark shuffles and joins"),
      (20002L, "completely different content about spark shuffles and joins"))
    val docs = (hot ++ pairDocs).toDF("doc_id", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val sig = docs.select(col("doc_id"),
      explode(Text.lshBandsFromToks(col("toks"), bands = 4)).as("band"))
    val got = Dedup.bandedPairs(sig).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot band contributed ZERO join work; the real near-dup survives
    assert(got == Set((20001L, 20002L)), s"got ${got.size} pairs")
    // the capped production path still dedups the EXACT duplicates: the
    // fingerprint pre-collapse clusters all 10 000 identical docs under
    // doc 0 WITHOUT any band join touching them (their bands are all
    // hot), and the near-dup pair clusters under 20001 via LSH
    val clusters = Dedup.minhashClustersFromToks(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters.filterNot(_._2._2).keySet ==
      ((1L until 10000L).toSet + 20002L))
    assert((0L until 10000L).forall(i => clusters(i)._1 == 0L))
    assert(clusters(20002L)._1 == 20001L && clusters(20001L)._2)
  }

  test("qe5 LSH near-dup pairs: subset of the exact result, recall >= " +
    "0.8 at the 0.4 threshold") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.cosineNearDupPairs(emb, 0.4)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Similarity.lshNearDupPairs(emb, 0.4)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exact)) // refine predicate is exact → no FPs
    if (exact.nonEmpty) {
      val recall = (exact & viaLsh).size.toDouble / exact.size
      info(s"LSH near-dup recall = $recall (${viaLsh.size}/${exact.size})")
      assert(recall >= 0.8, s"recall $recall too low")
    }
  }

  test("qe7 IVF range search: subset of the exact range result (exact " +
    "refine => no false positives), recall >= 0.8 at nprobe=8") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.rangeSearch(emb, queries, 0.25)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIvf = Similarity.ivfRangeSearch(emb, queries, 0.25, nprobe = 8)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIvf.subsetOf(exact)) // same cosine predicate on candidates
    if (exact.nonEmpty) {
      val recall = (exact & viaIvf).size.toDouble / exact.size
      info(s"IVF range recall = $recall (${viaIvf.size}/${exact.size})")
      assert(recall >= 0.8, s"recall $recall too low")
    }
  }

  test("qe8 PQ-ADC+rerank: exact when the shortlist covers the corpus, " +
    "recall >= 0.5 at shortlist=25, deterministic fit") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    // exact L2² top-5 baseline (PQ approximates L2, not cosine)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2"), col("n_id"))
    val exact = emb.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("d2", graft.meos.NativeExpressions.floatL2sq(col("qe"),
        col("ne")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // shortlist >= corpus: the ADC stage keeps everything, so the exact
    // re-rank must reproduce the exact result including rank order
    val full = Similarity.pqAdcKnn(emb, queries, 5, shortlist = 1 << 20)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(full == exact)
    // a real (small) shortlist still recovers most of the recall
    val approx = Similarity.pqAdcKnn(emb, queries, 5, shortlist = 25)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2))
    val recall = (exactPairs & approx).size.toDouble / exactPairs.size
    info(s"PQ-ADC recall@5 = $recall (m=8, 16 cells, shortlist=25)")
    assert(recall >= 0.5, s"PQ recall $recall too low")
    val fit1 = Similarity.pqCodebooks(emb, 8, 16, iters = 2)
    val fit2 = Similarity.pqCodebooks(emb, 8, 16, iters = 2)
    assert(fit1 == fit2)
    assert(fit1.length == 8 && fit1.forall(_.length == 16) &&
      fit1.forall(_.forall(_.length == 8)))
  }

  test("qe9 IVFADC: candidates restricted to probed cells (subset of the " +
    "PQ scan's result space), recall@5 vs exact L2 >= 0.5") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 20)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2"), col("n_id"))
    val exact = emb.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("d2", graft.meos.NativeExpressions.floatL2sq(col("qe"),
        col("ne")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfadc = Similarity.ivfPqKnn(emb, queries, 5)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivfadc).size.toDouble / exact.size
    info(s"IVFADC recall@5 = $recall (nprobe=8/16, m=8 PQ, shortlist=100)")
    assert(recall >= 0.5, s"IVFADC recall $recall too low")
    // with every cell probed and an unbounded shortlist, IVFADC == exact
    val full = Similarity.ivfPqKnn(emb, queries, 5, nprobe = 16,
      shortlist = 1 << 20)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
  }

  test("KMV sketch: exact below capacity, within 2/sqrt(k-2) relative " +
    "error above it, and merge == sketch-of-union") {
    import spark.implicits._
    import graft.ext.Sketch
    val k = 32
    // exact regime: fewer distinct values than k
    val small = (0 until 20).map(i => s"v$i") ++ (0 until 20).map(i => s"v$i")
    val smallDf = small.toDF("v").select(md5(col("v")).as("h"))
    val sk1 = smallDf.agg(Sketch.kmv(k)(col("h")).as("sk"))
      .select(Sketch.kmvEstimate(col("sk"), k).as("est")).collect()
    assert(sk1.head.getDouble(0) == 20.0)
    // estimate regime: 5000 distinct values, repartitioned so merge runs
    val big = (0 until 5000).map(i => s"item-$i")
    val bigDf = big.toDF("v").repartition(13)
      .select(md5(col("v")).as("h"))
    val est = bigDf.agg(Sketch.kmv(k)(col("h")).as("sk"))
      .select(Sketch.kmvEstimate(col("sk"), k).as("est")).collect()
      .head.getDouble(0)
    info(s"KMV est of 5000 distinct = $est")
    assert(math.abs(est - 5000.0) / 5000.0 <= 2.0 / math.sqrt(k - 2.0))
    // merge associativity: sketching two halves and merging (which the
    // repartitioned agg above already exercises) equals one-shot — pin it
    // explicitly via the aggregator object
    val agg = new Sketch.KmvAggregator(k)
    val hashes = big.map(v => java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val (h1, h2) = hashes.splitAt(2000)
    val oneShot = hashes.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(h1.foldLeft(agg.zero)(agg.reduce),
      h2.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(oneShot) == agg.finish(merged))
  }

  test("k-means quantizer: deterministic fit, k centroids, assignment " +
    "beats the round-1 first-k stub on distortion") {
    val emb = Tables.embeddings(spark, sfDir)
    val fit1 = Similarity.kmeansCentroids(emb, 8, iters = 3)
    val fit2 = Similarity.kmeansCentroids(emb, 8, iters = 3)
    assert(fit1 == fit2) // deterministic: fixed init + tiebreaks
    assert(fit1.length == 8)
    val dim = fit1.head.length
    assert(fit1.forall(_.length == dim))
    // trained centroids differ from the raw first-8 init after iterating
    val init = Similarity.kmeansCentroids(emb, 8, iters = 0)
    assert(fit1 != init)
  }

  test("KMV set sketch: jaccard estimator is EXACT when the union fits " +
    "under k, and within 3/sqrt(k) of truth on big overlapping sets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.ext.Sketch
    def est(xs: Seq[String], ys: Seq[String], k: Int): Double = {
      val skA = xs.toDF("h").agg(Sketch.kmvSet(k)(col("h")).as("s"))
        .select(col("s.hs")).collect()(0).getSeq[String](0)
      val skB = ys.toDF("h").agg(Sketch.kmvSet(k)(col("h")).as("s"))
        .select(col("s.hs")).collect()(0).getSeq[String](0)
      val u = (skA ++ skB).distinct.sorted.take(k)
      u.count(h => skA.contains(h) && skB.contains(h)).toDouble /
        math.min(k, u.length)
    }
    def h(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // small sets: union of 30 distinct values < k=64 -> estimator exact
    val a = (1 to 20).map(i => h(s"x$i"))
    val b = (11 to 30).map(i => h(s"x$i"))
    assert(est(a, b, 64) == 10.0 / 30.0)
    // big sets: 2000 ∪ 2000 with 1000 shared (J = 1/3), k = 256
    val bigA = (1 to 2000).map(i => h(s"v$i"))
    val bigB = (1001 to 3000).map(i => h(s"v$i"))
    val e = est(bigA, bigB, 256)
    assert(math.abs(e - 1.0 / 3.0) <= 3.0 / math.sqrt(256.0),
      s"estimate $e too far from ${1.0 / 3.0}")
  }

  test("semDedup: planted exact duplicate is removed with a smaller " +
    "dominating cellmate; keeper/dup invariants hold for every row") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDir)
    // plant an exact clone of vec 7 under a LARGER id: same embedding →
    // same cell, cosine 1.0 to the original → must be dominated
    val clone = emb.where(col("vec_id") === 7)
      .select(lit(100000L).as("vec_id"), col("embedding"), col("label"))
    val corpus = emb.unionByName(clone)
    val n = corpus.count()
    val rows = Similarity.semDedup(corpus, 0.4).collect()
    assert(rows.length == n) // one verdict per vector
    val planted = rows.find(_.getAs[Long]("vec_id") == 100000L).get
    assert(!planted.getAs[Boolean]("kept"))
    assert(planted.getAs[Long]("dup_of") <= 7L) // 7 dominates; maybe a
    // smaller cellmate does too — min-id rule picks the smallest
    rows.foreach { r =>
      val kept = r.getAs[Boolean]("kept")
      assert(kept == r.isNullAt(r.fieldIndex("dup_of")))
      if (!kept)
        assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
    }
    // the keeper set is non-trivial in both directions
    assert(rows.count(_.getAs[Boolean]("kept")) < n)
    assert(rows.count(_.getAs[Boolean]("kept")) > 0)
  }

  test("decontaminate flags exactly the docs sharing a shingle with the " +
    "probe set, with the shared-distinct-shingle count") {
    import spark.implicits._
    import graft.ext.Dedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps"), // shares "quick brown fox"
      (2L, "a completely different sentence here"),
      (3L, "the quick brown fox jumps over lazy dogs and quick brown fox"),
      (4L, "too short"), // < 3 tokens after split -> no shingles
      (5L, "benchmark prompt text verbatim copy")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "watch the quick brown fox run"),
      (101L, "benchmark prompt text verbatim copy")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    // doc 1: shares "the quick brown","quick brown fox" = 2 distinct
    // doc 3: same 2 (duplicated in-doc shingles count once)
    // doc 5: 3 distinct shingles of the verbatim copy
    assert(got == Set((1L, 2L, true), (2L, 0L, false), (3L, 2L, true),
      (4L, 0L, false), (5L, 3L, true)))
  }

  test("connected components == driver union-find on random graphs " +
    "(exercises the partition-local contraction across many partitions)") {
    import spark.implicits._
    import graft.ext.Dedup
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      // driver-side oracle: plain union-find, components keyed by min id
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        if (!parent.contains(x)) parent(x) = x
        if (parent(x) == x) x
        else { val r = find(parent(x)); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => (k, find(k))).toSet
      // distributed supersteps FORCED (driverFinishEdges = 0),
      // deliberately fragmented across 8 partitions so components span
      // partitions and the star edges must relink them
      val got = Dedup.connectedComponents(
          edges.toDF("d1", "d2").repartition(8), driverFinishEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"trial $trial")
      // the hybrid driver-finish path (default threshold) agrees exactly
      val viaDriver = Dedup.connectedComponents(
          edges.toDF("d1", "d2").repartition(8))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaDriver == expected, s"trial $trial (driver finish)")
    }
  }

  test("connected components with a RELIABLE checkpoint dir (the 100 TB " +
    "durability path) matches the local-checkpoint result") {
    import spark.implicits._
    import graft.ext.Dedup
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("d1", "d2")
    def run() = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLocal = run()
    val dir = tempDir("ccchk").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val viaReliable = run()
      assert(viaReliable == viaLocal)
      assert(viaReliable == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
        (11L, 10L), (20L, 20L), (21L, 20L), (22L, 20L)))
      // the reliable path actually wrote checkpoint data
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("multimodal decode stub: batch mapPartitions preserves rows and " +
    "emits fixed-width features") {
    import spark.implicits._
    val media = Multimodal.synthMedia(spark, sfDir)
      .select(col("doc_id"), col("bytes"), col("meta.mime").as("mime"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.decodeFeatures(media, batchSize = 16).collect()
    val n = media.count()
    assert(feats.length.toLong == n)
    assert(feats.forall(_.features.length == 8))
    assert(feats.forall(f => f.nbytes > 0))
    // deterministic: same input → same features
    val again = Multimodal.decodeFeatures(media, batchSize = 7).collect()
    assert(feats.sortBy(_.doc_id).map(_.features.toSeq).toSeq ==
      again.sortBy(_.doc_id).map(_.features.toSeq).toSeq)
  }

  test("resize stub downsamples binary payloads deterministically") {
    import spark.implicits._
    val df = Seq("abcdefghijklmnopqrstuvwxyz", "short")
      .toDF("s")
      .select(col("s"), Multimodal.resizeStub(
        encode(col("s"), "UTF-8"), targetLen = 8).as("r"))
      .collect()
    val big = df(0).getAs[Array[Byte]]("r")
    assert(big.length == 8)
    assert(big(0) == 'a'.toByte) // evenly spaced picks start at the head
    // payloads already under target pass through untouched
    assert(new String(df(1).getAs[Array[Byte]]("r"), "UTF-8") == "short")
  }

  test("frame sampling slices binary payloads without UDFs") {
    import spark.implicits._
    val df = Seq(("a" * 100)).toDF("s")
      .select(encode(col("s"), "UTF-8").as("bytes"))
      .select(Multimodal.sampleFrames(col("bytes"), frameLen = 10,
        stride = 2).as("frames"))
    val frames = df.collect()(0).getAs[scala.collection.Seq[Array[Byte]]](0)
    assert(frames.length == 5)
    assert(frames.forall(_.length == 10))
  }

  test("simhash of identical docs is identical; near-identical docs are " +
    "close in hamming distance") {
    import spark.implicits._
    import graft.ext.Text
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely different words describing some other topic entirely"))
      .toDF("id", "text")
      .select(col("id"),
        Text.simhash32(Text.tokenMd5s(Text.tokens(col("text")))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def hamming(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(docs(1L) == docs(2L))
    assert(hamming(docs(1L), docs(3L)) < hamming(docs(1L), docs(4L)))
  }

  test("curation pipeline reports observed metrics (docs_total/kept) " +
    "through the listener — no second counting pass") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    // explicit per-run name: metric rows stay attributable even if other
    // pipeline runs interleave in this shared session
    val obsName = s"curation-extspec-${System.nanoTime()}"
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(obsName)
          .foreach(r => observed = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = graft.ext.Curation.pipeline(
        Tables.documents(spark, sfDir),
        observationName = obsName).collect()
      // listener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (observed.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val m = observed.getOrElse(fail("no observed metrics delivered"))
      assert(m.getAs[Long]("docs_total") == out.length)
      assert(m.getAs[Long]("docs_kept") ==
        out.count(_.getAs[Boolean]("kept")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("qx36 NB classifier separates a planted informative fixture " +
    "(the declared query's fixture is uninformative BY CONSTRUCTION)") {
    import spark.implicits._
    import graft.ext.{Models, Text}
    // two classes with disjoint vocabularies + shared filler; NB must
    // recover both, including for the docs where filler dominates
    val docs = Seq(
      (1L, "alpha", "apple banana cherry the of and apple banana"),
      (2L, "alpha", "banana cherry apple apple the and of cherry"),
      (3L, "alpha", "cherry apple the banana of and banana apple"),
      (4L, "beta", "stone iron copper the of and stone iron"),
      (5L, "beta", "iron copper stone stone the and of copper"),
      (6L, "beta", "copper stone the iron of and iron stone"))
      .toDF("doc_id", "label", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val got = Models.nbClassify(docs, "label").collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(got.size == 6 && got.values.forall(_._2),
      s"misclassified: ${got.filterNot(_._2._2)}")
    // and the declared query hash-matches its twin on the uninformative
    // corpus (CORRECTNESS gate) — here just pin its shape
    val declared = SparkEntry.queries("qx36_nb_langid")(spark, sfDir)
    assert(declared.columns.toSeq ==
      Seq("doc_id", "lang", "pred_lang", "correct"))
  }

  test("qx35 DSIR weights rank target-vocabulary docs above source-only " +
    "docs on a planted fixture") {
    import spark.implicits._
    import graft.ext.{Models, Text}
    // target slice speaks {alpha..}, the rest {noise..}; an unlabeled
    // alpha-speaking doc must outweigh a noise-speaking one
    val docs = Seq(
      (1L, true, "alpha beta gamma delta alpha beta gamma delta"),
      (2L, true, "beta alpha delta gamma beta alpha delta gamma"),
      (3L, false, "noise fuzz static hiss noise fuzz static hiss"),
      (4L, false, "fuzz noise hiss static fuzz noise hiss static"),
      (5L, false, "alpha beta gamma delta beta gamma alpha delta"),
      (6L, false, "noise fuzz hiss static hiss fuzz noise static"))
      .toDF("doc_id", "tgt", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val w = Models.dsirWeights(docs, col("tgt")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(5L) > w(6L),
      s"target-like doc 5 (${w(5L)}) not above source-only doc 6 (${w(6L)})")
    assert(w(1L) > w(3L))
  }

  test("qx37 packing invariants: offsets are contiguous per source, " +
    "bins are monotone, straddles iff a 256-boundary falls inside") {
    val rows = SparkEntry.queries("qx37_pack_sequences")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val inOrder = rs.sortBy(_._2)
      // each doc starts where the previous ended — concat-and-cut never
      // skips or overlaps tokens
      inOrder.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._3 == b._4, s"$a -> $b")
        case _ =>
      }
      inOrder.foreach { case (_, _, n, off, fb, lb, straddles) =>
        assert(fb == off / 256 && lb == (off + n - 1) / 256)
        assert(straddles == (fb != lb))
      }
    }
  }

  test("qx38 chunking invariants: full coverage, stride 48, all " +
    "non-final chunks are 64 tokens, fingerprints match re-sliced text") {
    import graft.ext.Text
    val toksByDoc = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val chunks = SparkEntry.queries("qx38_chunk_overlap")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = toksByDoc(doc).size
      val inOrder = cs.sortBy(_._2)
      // ids dense from 0; last chunk reaches the end of the doc
      assert(inOrder.map(_._2).toSeq == (0L until inOrder.size).toSeq)
      val (_, lastId, lastLen, _) = inOrder.last
      assert(lastId * 48 + lastLen == n,
        s"doc $doc: last chunk ends at ${lastId * 48 + lastLen}, n=$n")
      inOrder.init.foreach { case (_, _, len, _) => assert(len == 64) }
      inOrder.foreach { case (_, id, len, _) =>
        assert(len == math.min(64, n - id * 48)) }
    }
  }

  test("qx39 CMS one-sided error: cms_n >= exact_n on every heavy " +
    "hitter, equal in the no-collision case") {
    val rows = SparkEntry.queries("qx39_cms_heavy_hitters")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.size == 20)
    rows.foreach { case (term, exact, cms) =>
      assert(cms >= exact, s"$term: cms $cms < exact $exact") }
  }

  test("qx40 weighted sample: deterministic, per-lang ranks dense " +
    "from 1, capped at 16") {
    def run() = SparkEntry.queries("qx40_weighted_sample")(spark, sfDir)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a = run(); val b = run()
    assert(a.toSeq == b.toSeq) // md5-derived keys: no RNG, no drift
    a.groupBy(_._1).foreach { case (lang, rs) =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1L to ranks.size).toSeq, s"$lang ranks: $ranks")
      assert(ranks.size <= 16)
    }
  }

  test("qx41 delta dedup: a planted incoming copy of an ingested doc " +
    "is flagged with dup_of = the existing doc; novel content is new") {
    import spark.implicits._
    import graft.ext.{Dedup, Text}
    val existing = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today and " +
        "tomorrow again"),
      (11L, "spark shuffles partition data across the cluster nodes"))
      .toDF("doc_id", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val incoming = Seq(
      // near-identical to 10 (one token changed; shares 2 of 4 band
      // minima and 10 of 14 distinct 3-grams — deterministic md5)
      (20L, "the quick brown fox jumps over the lazy dog today and " +
        "tomorrow soon"),
      // genuinely new
      (21L, "completely unrelated words about cooking pasta and sauce"))
      .toDF("doc_id", "text")
      .withColumn("toks", Text.tokens(col("text")))
    val got = Dedup.deltaDedup(existing, incoming).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(got(20L) == (Some(10L), false), s"got ${got(20L)}")
    assert(got(21L) == (None, true), s"got ${got(21L)}")
  }

  test("qx42 CDC shift-resistance: a token inserted early re-fingerprints " +
    "only chunks before the next boundary; suffix chunks are identical") {
    import spark.implicits._
    import graft.ext.{Dedup, Text}
    // find a boundary word the same way the operator does: 60-bit md5
    // key ≡ 0 (mod 16)
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val words = (1 to 400).map(i => s"w$i")
    val bWord = words.find(w => h60(w) % 16 == 0).get
    val rest = words.filterNot(_ == bWord)
    val prefix = rest.take(20)
    val tail = rest.slice(20, 50)
    val a = (prefix ++ Seq(bWord) ++ tail).mkString(" ")
    val b = (Seq("inserted") ++ prefix ++ Seq(bWord) ++ tail).mkString(" ")
    val ch = Dedup.cdcChunks(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text")
        .withColumn("toks", Text.tokens(col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ka = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val kb = ch.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    // the chunk containing the insertion differs...
    assert(ka.head != kb.head, "insertion must change its own chunk")
    // ...but every chunk after the next content boundary is untouched
    // (fixed-stride chunking would shift-corrupt ALL downstream chunks)
    assert(ka.last == kb.last, s"suffix chunk must be shift-immune")
    assert((ka.toSet & kb.toSet).nonEmpty)
  }

  test("qx43 winnowing guarantee: docs sharing a >= w+k-1 token run " +
    "share a fingerprint; gram-disjoint docs share none") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "one two three " + shared + " four five six"),
      (2L, "seven eight nine ten " + shared + " eleven"),
      (3L, "totally different words with no common run at all here"))
      .toDF("doc_id", "text")
      .withColumn("toks", graft.ext.Text.tokens(col("text")))
      .select(col("doc_id"),
        graft.meos.NativeExpressions.shingleHashes(col("toks"), 3).as("hs"))
      .select(col("doc_id"),
        graft.ext.Text.winnowFps(col("hs"), 4).as("fps"))
    val m = docs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((m(1L) & m(2L)).nonEmpty,
      "a shared 8-token run must be caught by winnowing — that's the " +
        "coverage guarantee bottom-k lacks")
    assert((m(1L) & m(3L)).isEmpty)
  }

  test("qx44 KL: a single-source corpus scores exactly zero (p == q per " +
    "bucket in integer log-space); skewed sources score positive") {
    import spark.implicits._
    val one = Seq(("a", 1L, 5L), ("a", 2L, 3L)).toDF("source", "b", "k")
    val r1 = graft.ext.Models.klPerSource(one, 4096).collect()
    assert(r1.length == 1)
    assert(r1(0).getLong(1) == 8L && r1(0).getLong(2) == 2L)
    assert(r1(0).getLong(3) == 0L, s"identity KL must be exactly 0")
    val skew = Seq(("a", 1L, 100L), ("b", 2L, 100L))
      .toDF("source", "b", "k")
    val r2 = graft.ext.Models.klPerSource(skew, 4096).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(r2("a") > 0L && r2("b") > 0L, s"skewed KL must be positive: $r2")
  }

  test("qx46 cluster-balanced sample: every non-empty cell represented, " +
    "ranks dense from 1, per-cell quota = min(8, |cell|)") {
    val emb = Tables.embeddings(spark, sfDir)
    val pop = graft.ext.Similarity.cellAssignments(emb,
      cacheKey = Some(s"$sfDir|nlist=16|iters=5"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).view.mapValues(_.length).toMap
    val byCell = SparkEntry.queries("qx46_cluster_sample")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(byCell.keySet == pop.keySet,
      s"cells ${byCell.keySet} != populated ${pop.keySet}")
    byCell.foreach { case (cell, rs) =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1L to ranks.size).toSeq, s"cell $cell: $ranks")
      assert(ranks.size == math.min(8, pop(cell)),
        s"cell $cell quota ${ranks.size} != min(8, ${pop(cell)})")
    }
  }

  test("qx45 Bloom one-sided error: n_bloom >= n_exact on every doc and " +
    "exact flags imply bloom flags") {
    val rows = SparkEntry.queries("qx45_bloom_decontam")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nb, ne) = (r.getLong(2), r.getLong(3))
      assert(nb >= ne, s"doc ${r.getLong(0)}: bloom $nb < exact $ne")
      if (r.getBoolean(5)) assert(r.getBoolean(4),
        s"doc ${r.getLong(0)}: exact hit must be a bloom hit")
    }
  }
}
