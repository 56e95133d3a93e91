package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stage, Tables}
import graft.ext.{Curation, Dedup, Multimodal, Similarity, Sketch, Skew, Text}

/** [EXT] LLM-data-pipeline query set (no reference counterpart;
  * BASELINE.json north star): dedup, similarity search, text analysis,
  * multimodal metadata — each with a DuckDB oracle twin except the
  * approximate-ANN path (qe2, Spark-only: rows-only check).
  *
  * Oracle-parity rules used throughout: md5 is the only hash (identical
  * hex in both engines), float math is double with left-to-right folds,
  * counts are BIGINT, every query ends in a deterministic ORDER BY.
  */
object ExtQueries {

  /** Per-dir staged qx11 cluster table (doc_id, cluster, keeper) — the
    * honest pipeline shape for the chain's CONSUMERS (VERDICT r13 #4):
    * cluster once, consume many. qx92/qx93/qx95/qp9 and the qz audits
    * each re-ran the full minhash-LSH chain (~16-21 s each at the 100×
    * probe); a production curation pipeline materializes the cluster
    * table once and every downstream op reads it. qx11 itself — the
    * clustering OP whose cost the bench prices — still computes the
    * chain directly. The staged bytes are deterministic (the chain is
    * integer/md5-exact), so every consumer's DuckDB twin, which re-runs
    * its own CTE spelling of the chain, is unaffected. */
  private def stagedClusters(s: SparkSession, dir: String): DataFrame =
    stagedFact("qx11-clusters", s, dir) { (s, dir) =>
      Dedup.minhashClusters(Tables.documents(s, dir))
    }

  /** Per-dir staged qx33 gram-overlap fact (d1, d2, ni, na, nb) and qx61
    * simhash-pair fact (d1, d2, hamming) — round 17, same cluster-table
    * discipline as [[stagedClusters]]: the NAMESAKE op (qx33 / qx61)
    * still computes its chain live, pricing the operator; the CONSUMERS
    * (qx47, qx57, qx59's truth leg; qz7, qz15) read the staged fact
    * instead of re-running the full posting-list / band self-join per
    * evaluation. Both facts are deterministic (integer counts over
    * md5-derived keys), so every consumer's DuckDB twin — which re-runs
    * its own CTE spelling — is unaffected. */
  private def stagedGramOverlap(s: SparkSession, dir: String): DataFrame =
    stagedFact("qx33-overlap", s, dir)(cappedGramOverlap)
  private def stagedSimhashPairs(s: SparkSession, dir: String): DataFrame =
    stagedFact("qx61-pairs", s, dir)(simhashPairs)

  /** Per-dir staged minhash banded-pair fact (d1, d2) — the default-cap
    * `Dedup.bandedPairs` over the bands=4 signature, consumed by SIX
    * queries (qz39, qz8, qz48, qx98, qx54, qx19_source_overlap) that
    * each re-ran the band self-join per evaluation. The band-join
    * OPERATOR stays priced live by qx11's cluster chain and the
    * cap-variant rows (qx58 bandCap=3, qx18 bandCap=0); qx54's own
    * slice(mh16, 1, 4) bands are value-identical to bands=4 (the
    * position-prefixed kernel property the qx59 fusion is built on). */
  private def stagedBandedPairs(s: SparkSession, dir: String): DataFrame =
    stagedFact("qx19-bandpairs", s, dir) { (s, dir) =>
      val sig = docsWithToks(s, dir).select(col("doc_id"),
        explode(Text.lshBandsFromToks(col("toks"), bands = 4)).as("band"))
      Dedup.bandedPairs(sig).select("d1", "d2")
    }

  /** `live` staged as zstd parquet and read back by every consumer. A
    * fact with no rows still stages typed: a non-partitioned write's
    * first task always leaves a schema-bearing part file. */
  private def stagedFact(fact: String, s: SparkSession, dir: String)(
      live: (SparkSession, String) => DataFrame): DataFrame =
    Tables.parquetCached(s, Stage.dir(fact, dir) { d =>
      live(s, dir).write.mode("overwrite")
        .option("compression", "zstd").parquet(d)
    })

  /** qx81's per-dir staged PPJoin facts (VERDICT r14 #1a — change the
    * SHAPE, not the storage flag): the three wide cuts (fp / dict /
    * base) lived in block-manager storage — object rows in r12/r13,
    * SER batches in r14 — and qx81's driver-sidecar reading inflated
    * selectively three rounds running (6.27 → 14.83 → 15.06 s against
    * clean-window medians ≈1.03) while the induced-pressure A/B
    * provably did not reproduce the condition. So the persists are
    * GONE: both facts stage to parquet once per dir (the AH6
    * clusterStage lever that cut qx92–qp9 3–6×) and every consumer
    * reads disk-stable columnar bytes the OS page cache serves,
    * immune to block-manager eviction/GC pressure. The staged bytes
    * are deterministic — the published fp is the thin (doc_id, f)
    * pair (its token arrays live only in a scratch staging that mints
    * base — VERDICT r15 #2); base's
    * dense token ids come from the distributed sorted zipWithIndex
    * whose (df asc, t asc) ranks are total hence reproducible — so
    * the DuckDB twin (which re-runs its own CTE spelling) is
    * unaffected. dict never leaves the staging job: it exists only to
    * mint base's tids, so nothing downstream ever re-reads it. */
  private def stagedPpjoin(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    def fpOf(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        array_sort(array_distinct(col("toks"))).as("td"))
      .withColumn("f", md5(concat_ws(" ", col("td"))))
    // dense BIGINT set ids (round-16 "narrower types" reshape, guide
    // §2.3): every downstream join/distinct used to shuffle the 32-char
    // md5 STRING as its key — ~6× the bytes of a long. The staging
    // mints one fid per distinct fingerprint via the same DISTRIBUTED
    // sorted zipWithIndex as the token dict (deterministic: f-order is
    // total), and publishes fid-keyed facts; f itself never leaves the
    // staging job. Output is unaffected: f was internal plumbing —
    // pair orientation (fid1 < fid2 vs f1 < f2) is absorbed by the
    // symmetric verify/report expressions (least/greatest, intersect).
    def fidsOf(fp: DataFrame): DataFrame = {
      import s.implicits._
      fp.select(col("f")).distinct().orderBy("f").as[String]
        .rdd.zipWithIndex()
        .map { case (f, i) => (f, i + 1L) }
        .toDF("f", "fid")
    }
    def baseOf(fp: DataFrame): DataFrame = {
      val sets = fp.groupBy("fid").agg(min("doc_id").as("rep"))
      val g = fp.select(col("doc_id"), col("td"))
        .join(sets.select(col("rep").as("doc_id"), col("fid")), "doc_id")
        .select(col("fid"), explode(col("td")).as("t"))
      // dense BIGINT token ids, rarest-first — the DISTRIBUTED sorted
      // zipWithIndex (per-partition offsets from one count job), not a
      // global row_number window: an unpartitioned window plans as ONE
      // task holding the whole vocabulary (the round-11 `weak` mark)
      import s.implicits._
      val dict = g.groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy("df", "t").select(col("t")).as[String]
        .rdd.zipWithIndex()
        .map { case (t, i) => (t, i + 1L) }
        .toDF("t", "tid")
      g.join(dict, "t").groupBy("fid")
        .agg(sort_array(collect_list(col("tid"))).as("ts"),
          count(lit(1)).as("n"))
    }
    val d = Stage.dir("qx81-ppjoin", dir) { d =>
      // staged-footprint shrink (VERDICT r15 #2): the re-read facts
      // are zstd-compressed, and the published fp carries ONLY
      // (doc_id, f) — qx81's one fp consumer is the doc→rep `sets`
      // rollup, which never touches the token arrays; they exist
      // solely to mint base, so they live in a SCRATCH staging the
      // query never reads. What the driver box must hold warm in its
      // page cache across three bench runs is two thin zstd files,
      // not a token-array fact.
      val scratch = Stage.scratch("qx81-fpfull").toString
      fpOf(docsWithToks(s, dir)).write.mode("overwrite")
        .option("compression", "zstd").parquet(scratch)
      // fid-keyed full fp (one disk read of the scratch + the tiny
      // fid dict join); base derives from it, so the doc→rep
      // collapse runs once, never from live lineage
      val scratchDf = s.read.parquet(scratch)
      // fid dict materialized ONCE (ADVICE r16): as bare lineage the
      // distinct+sort+zipWithIndex mint re-ran under EACH of the two
      // staged writes below (base, then fp) — a lazy persist cut
      // shares one evaluation across both; released with the query's
      // releaseAll like every cut
      val fids = graft.Materialize.cut(fidsOf(scratchDf))
      val fpFull = scratchDf.join(fids, Seq("f"))
      baseOf(fpFull).write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$d/base")
      fpFull.select(col("doc_id"), col("fid"))
        .write.mode("overwrite")
        .option("compression", "zstd").parquet(s"$d/fp")
    }
    (Tables.parquetCached(s, s"$d/fp"), Tables.parquetCached(s, s"$d/base"))
  }

  /** qe31's per-dir staged MMR shortlist (VERDICT r15 #1 — the suite's
    * LAST `Materialize.cut(..., serialized = true)` in-memory wide cut,
    * deleted; the same substrate class whose removal fixed qx81's
    * three-round driver-sidecar inflation). The shortlist is ≤32 rows
    * (8 per query × 4 query anchors) but costs a corpus scan to build
    * and carries an embedding array per row — exactly the wide-frame /
    * many-consumer shape the AI1 parquet-staging lever exists for: the
    * block manager holds NOTHING, every greedy step reads disk-stable
    * zstd columnar bytes the OS page cache serves, and re-running a
    * consumer never re-runs the corpus scan. Deterministic bytes: the
    * per-anchor rank is a total order (cos desc, n_id asc — n_id
    * unique), so the staged shortlist is reproducible. */
  private def stagedMmrCand(s: SparkSession, dir: String): DataFrame =
    stagedFact("qe31-cand", s, dir) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val wq = Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
      emb
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        // BROADCAST BOUND (query-anchors): 4 query rows (vec_id < 4)
        .crossJoin(broadcast(q))
        .where(col("n_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(wq))
        .where(col("rk") <= 8)
        .select(col("q_id"), col("n_id"), col("n_emb"), col("cos"))
    }

  private val CosSql =
    """list_reduce(list_transform(list_zip(%s, %s),
      | p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"""
      .stripMargin.replaceAll("\n", "")

  /** Full cosine (dot over norm product) in DuckDB SQL — the same
    * left-to-right double fold as [[graft.ext.Similarity.cosine]]. */
  private def cosSql(a: String, b: String): String =
    s"${CosSql.format(a, b)} / (sqrt(${CosSql.format(a, a)}) * " +
      s"sqrt(${CosSql.format(b, b)}))"

  /** qz54's H statistic and tie correction — ONE formula string run by
    * both engines over identically-named exact-BIGINT columns (sd = Σ
    * floored-micro R²/n terms, n = total observations, ties = Σ t³−t),
    * so the final doubles share the IEEE operation sequence. */
  private val kwHExpr =
    "(3.0 * CAST(sd AS DOUBLE) / 1.0E6) / CAST(n * (n + 1) AS DOUBLE)" +
      " - 3.0 * CAST(n + 1 AS DOUBLE)"
  private val kwCExpr =
    "1.0 - CAST(ties AS DOUBLE) / CAST(n * n * n - n AS DOUBLE)"

  /** qe33's OWN fit cache (the lastFitted* rule: a new fit family must
    * not clobber qe8/qe9's PQ or qe4's centroid caches): per sf-dir,
    * the fitted (mean, top principal direction) from 5 deterministic
    * power iterations. Every distributed reduction inside the fit is a
    * per-row FLOORED-micro BIGINT sum (order-independent); the only
    * float math runs single-threaded on the driver (normalization),
    * so the fit is bit-reproducible and its literals feed the twin. */
  private val topPcCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Double], Seq[Double])]
  @volatile private var lastTopPcKey: Option[String] = None
  def lastFittedTopPc: Option[(Seq[Double], Seq[Double])] =
    lastTopPcKey.flatMap(topPcCache.get)

  /** The shared (x − μ)·v fold: Spark side. Twin text in [[qe33Sql]] —
    * same per-element value, same left-to-right double fold. */
  private def pcProj(emb: Column, mu: Seq[Double], v: Seq[Double])
      : Column = {
    val muL = array(mu.map(lit): _*)
    val vL = array(v.map(lit): _*)
    aggregate(zip_with(zip_with(emb, muL,
        (x, m) => x.cast("double") - m), vL, (c, w) => c * w),
      lit(0.0), (a, b) => a + b)
  }

  private def fitTopPc(s: SparkSession, dir: String)
      : (Seq[Double], Seq[Double]) =
    topPcCache.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir).select(col("embedding"))
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val mu = emb.select(posexplode(col("embedding")))
        .select(col("pos"),
          floor(col("col").cast("double") * 1e6).cast("long").as("m"))
        .groupBy("pos")
        .agg(sum("m").as("sm"), count(lit(1)).as("n"))
        .orderBy("pos").collect()
        .map(r => r.getLong(1).toDouble / (r.getLong(2).toDouble * 1e6))
        .toSeq
      var v: Seq[Double] = Seq.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      val muL = array(mu.map(lit): _*)
      for (_ <- 1 to 5) {
        val sums = emb
          .withColumn("dot", pcProj(col("embedding"), mu, v))
          .select(posexplode(col("embedding")), col("dot"))
          .select(col("pos"),
            floor(lit(1e6) * col("dot") *
              (col("col").cast("double") -
                element_at(muL, col("pos") + 1))).cast("long").as("c"))
          .groupBy("pos").agg(sum("c").as("sc"))
          .orderBy("pos").collect().map(_.getLong(1).toDouble / 1e6)
        val norm = math.sqrt(sums.map(x => x * x).sum)
        if (norm > 0.0) v = sums.map(_ / norm).toSeq
      }
      (mu, v)
    })

  /** qe33's fitted-literal twin — the exact (μ, v) doubles printed
    * losslessly, the same zip + left fold. */
  private def qe33Sql(mu: Seq[Double], v: Seq[Double]): String = {
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val muL = mu.map(dlit).mkString("[", ",", "]")
    val vL = v.map(dlit).mkString("[", ",", "]")
    s"""WITH p AS (
      |  SELECT vec_id, label,
      |    list_reduce(list_prepend(0.0, list_transform(
      |      list_zip(embedding, $muL, $vL),
      |      q -> (CAST(q[1] AS DOUBLE) - q[2]) * q[3])),
      |      (a, b) -> a + b) AS proj
      |  FROM embeddings)
      |SELECT CAST(row_number() OVER (ORDER BY abs(proj) DESC, vec_id)
      |    AS BIGINT) AS rank, vec_id, label, proj
      |FROM p
      |QUALIFY row_number() OVER (ORDER BY abs(proj) DESC, vec_id) <= 10
      |ORDER BY rank""".stripMargin
  }

  /** qe34's fitted-literal twin — the centered-dot identity with the
    * same (μ, v) literals and fold orders as the Spark side. */
  private def qe34Sql(mu: Seq[Double], v: Seq[Double]): String = {
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val muL = mu.map(dlit).mkString("[", ",", "]")
    val vL = v.map(dlit).mkString("[", ",", "]")
    def cdot(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(" +
        s"list_zip($a, $b, $muL), " +
        "q -> (CAST(q[1] AS DOUBLE) - q[3]) * " +
        "(CAST(q[2] AS DOUBLE) - q[3]))), (x, y) -> x + y)"
    val proj = s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip(embedding, $muL, $vL), " +
      "q -> (CAST(q[1] AS DOUBLE) - q[2]) * q[3])), (a, b) -> a + b)"
    s"""WITH e AS (
      |  SELECT vec_id, embedding, $proj AS p
      |  FROM embeddings WHERE vec_id < 50),
      |d AS (
      |  SELECT ${cdot("a.embedding", "b.embedding")} AS dij,
      |    ${cdot("a.embedding", "a.embedding")} AS dii,
      |    ${cdot("b.embedding", "b.embedding")} AS djj,
      |    a.p AS pi, b.p AS pj
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      |c AS (
      |  SELECT CAST(floor(abs(dij / (sqrt(dii) * sqrt(djj)))
      |      * 1000000.0) AS BIGINT) AS cb,
      |    CAST(floor(abs((dij - pi * pj) /
      |      (sqrt(dii - pi * pi) * sqrt(djj - pj * pj)))
      |      * 1000000.0) AS BIGINT) AS ca
      |  FROM d),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |    CAST(sum(cb) AS BIGINT) AS sb,
      |    CAST(sum(ca) AS BIGINT) AS sa
      |  FROM c)
      |SELECT n_pairs, sb // n_pairs AS mean_abs_cos_before_micro,
      |  sa // n_pairs AS mean_abs_cos_after_micro
      |FROM g WHERE n_pairs > 0 ORDER BY n_pairs""".stripMargin
  }

  /** Exact Poisson(1) CDF in ppm — floor(1e6 · P(X ≤ k)) for k = 0..9;
    * a uniform u ∈ [0, 1e6) maps to weight w = #{thresholds ≤ u}, the
    * inverse-CDF draw qz55's bootstrap replicates share with their
    * DuckDB twin (weights ≥ 10 are truncated; P ≈ 1e-7). */
  private val poissonPpm = Seq(367879L, 735758L, 919698L, 981011L,
    996340L, 999405L, 999916L, 999989L, 999998L, 999999L)

  /** qe27's OWN fitted-codebook cache — the PQ-transfer fit trains on
    * the in-sample HALF of the corpus, so it must not share
    * [[graft.ext.Similarity]]'s pqCache/lastPqKey (that would clobber
    * the full-corpus codebooks qe8/qe9's twins embed). */
  private val pqTransferCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[Seq[Seq[Double]]]]
  @volatile private var lastPqTransferKey: Option[String] = None
  private def lastPqTransferCb: Option[Seq[Seq[Seq[Double]]]] =
    lastPqTransferKey.flatMap(pqTransferCache.get).filter(_.nonEmpty)

  private def docsWithShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .where(size(col("toks")) >= 3)
      .withColumn("sh", Text.shingles(col("toks")))

  /** Tokenized-only variant for the band-key consumers (qx2/qx3/qx19):
    * same row set as [[docsWithShingles]], but the shingle array is never
    * materialized — banding runs fused over the tokens. */
  /** qx33's hot-gram cap — shared by the Spark plan and its DuckDB twin
    * so the two can never silently diverge (same discipline as
    * `Dedup.DefaultBandCap` in the band twins). */
  private val JaccardGramCap = 64

  /** qc2's fixed case table — one WKT literal per wire-format branch.
    * The expected outputs live in the qc2 twin as committed goldens;
    * regenerate them (after an INTENDED format change) by running qc2
    * through Verify and pasting the new strings. */
  private val CodecGoldenCases: Seq[(Long, String)] = Seq(
    1L -> "POINT(1 1)@2000-01-01",
    2L -> "SRID=4326;POINT(1 1)@2000-01-01",
    3L -> "[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
    4L -> "{POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02}",
    5L -> "Interp=Step;[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02]",
    6L -> "[POINT(1 1)@2000-01-01, POINT(2 2)@2000-01-02)",
    7L -> "POINT Z (1 2 3)@2000-01-01",
    8L -> "[POINT Z (0 0 0)@2000-01-01, POINT Z (10 10 10)@2000-01-03]",
    9L -> "SRID=4326;Point(-90.06 29.95)@2024-01-01T00:00:00+00",
    10L -> ("[POINT(-0.5 0.25)@2020-02-29, " +
      "POINT(3.125 -2.75)@2020-03-01T12:30:45+00]"))

  /** Benford first-digit probabilities in integer ppm — round(1e6 ·
    * log10(1+1/d)) for d = 1..9; they sum to exactly 1,000,000 (the
    * logs telescope to log10(10)). Shared by qz42 and its twin so both
    * engines compare against the SAME integers. */
  private val benfordPpm: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
      51153L, 45757L)

  private def docsWithToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .where(size(col("toks")) >= 3)

  // qe36's OWN half-corpus quantizer cache (the lastFitted* rule: a
  // second centroid fit routed through Similarity's shared cache would
  // clobber the lastFitKey that qe4/qe7/qe11/…'s twins read)
  private val halfCentCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
  // BOTH twin inputs captured as ONE key pair when qe36 runs —
  // (serving-fit cache key, half-corpus dir). Two independent "last
  // fit" globals could mix dirs if another fit-cached query ran on a
  // different dir between qe36 and the oracle read (ADVICE r12).
  @volatile private var lastQe36Keys: Option[(String, String)] = None

  /** qe40/qe41 shared core: sign-bit signatures (2×32-bit BIGINTs),
    * popcount-Hamming top-32 shortlist, exact-cosine top-5 re-rank for
    * the 20 anchor queries. Columns (q_id, n_id, rank, hamming, cos). */
  private def signAnnTop5(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sig(off: Int) =
      s"aggregate(transform(slice(embedding, ${off + 1}, 32), " +
        "(x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), " +
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a | b)"
    val emb = Tables.embeddings(s, dir)
    val c = emb.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"),
      expr(sig(0)).as("n_lo"), expr(sig(32)).as("n_hi"))
    val q = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        expr(sig(0)).as("q_lo"), expr(sig(32)).as("q_hi"))
    val wH = Window.partitionBy("q_id").orderBy(col("hamming"), col("n_id"))
    val wC = Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
    // BROADCAST BOUND (query-anchors): 20 query rows (vec_id < 20)
    c.crossJoin(broadcast(q))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("hamming", expr(
        "CAST(bit_count(q_lo ^ n_lo) + bit_count(q_hi ^ n_hi) AS BIGINT)"))
      .withColumn("hrk", row_number().over(wH))
      .where(col("hrk") <= 32)
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(wC).cast("long"))
      .where(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("rank"), col("hamming"),
        col("cos"))
  }

  private def halfCentroidsFor(s: SparkSession, dir: String)
      : Seq[Seq[Float]] = {
    val emb = Tables.embeddings(s, dir)
    val c = halfCentCache.getOrElseUpdate(dir,
      Similarity.kmeansCentroids(
        emb.where(col("vec_id") % 2 === 0), 16, 5))
    c.map(_.map(_.toFloat))
  }

  /** Shared by qe14/qe23/qe24: the per-label round-9 mean centroid as a
    * position-sorted DOUBLE array — one definition so the three
    * queries' numbers reconcile BY CONSTRUCTION (round-9 means aren't
    * float-representable, hence the double array + composed cosine). */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
      .groupBy("label", "pos")
      .agg(round(avg("v"), 9).as("cv"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("cvec"))

  /** Composed cosine for mixed float/double arrays: each side casts
    * independently inside the zip_with fold — exactly the twins'
    * `CAST(p[i] AS DOUBLE)` shape (the float-native kernel would fold
    * in float first). */
  private def ccos(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    Similarity.dotComposed(a, b) /
      (sqrt(Similarity.dotComposed(a, a)) *
        sqrt(Similarity.dotComposed(b, b)))

  /** Shared frame staging for qm5/qm6/qm7: every 4th 16-byte frame of
    * the synthesized media bytes decoded to a per-frame byte-value
    * array via the hex fold (pure expressions, no UDF) — one
    * definition so the three signal queries and their twins stay
    * frame-aligned. Returns (doc_id, frame_no, frame_len, bv). */
  private def frameByteVectors(s: SparkSession, dir: String): DataFrame = {
    val fr = Multimodal.synthMedia(s, dir)
      .select(col("doc_id"), posexplode(
        Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4)))
      .toDF("doc_id", "frame_no", "frame")
    val hx = hex(col("frame"))
    val bytesArr = transform(
      sequence(lit(1), octet_length(col("frame"))),
      i => conv(hx.substr(i * 2 - 1, lit(2)), 16, 10).cast("long"))
    fr.select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
      octet_length(col("frame")).cast("long").as("frame_len"),
      bytesArr.as("bv"))
  }

  /** qm14's run-length fold body, generated ONCE for both engines (the
    * mortonCol discipline): the whole (current-run, max-run, n-runs,
    * n-silent) state packs into one BIGINT (5+5+4+5 bits — a 16-byte
    * frame bounds every field) so it threads through Spark's
    * `aggregate` and DuckDB's `list_reduce` — whose accumulator must
    * share the element type — as plain integer arithmetic. `div` is
    * the only dialect difference ("DIV" vs "//", both floor on the
    * non-negative state). */
  /** qm18's zero-crossing fold, generated ONCE for both engines (the
    * silenceFoldSql discipline): state = crossings·4 + prev-sign code
    * (0 = none yet, 1 = negative, 2 = non-negative, centering samples
    * at 128); a crossing increments when the previous code is set and
    * differs from the current. One BIGINT accumulator threads through
    * Spark `aggregate` and DuckDB `list_reduce`. */
  private def zcrFoldSql(acc: String, x: String, div: String): String = {
    val cur = s"CASE WHEN $x < 128 THEN 1 ELSE 2 END"
    s"(CASE WHEN ($acc % 4) <> 0 AND ($acc % 4) <> ($cur) " +
      s"THEN (($acc) $div 4) + 1 ELSE ($acc) $div 4 END) * 4 + ($cur)"
  }

  private def silenceFoldSql(acc: String, x: String, div: String)
      : String = {
    val cur = s"CASE WHEN $x < 33 THEN ($acc % 32) + 1 ELSE 0 END"
    s"($cur) + greatest((($acc) $div 32) % 32, $cur) * 32" +
      s" + ((($acc) $div 1024) % 16 + CASE WHEN $x < 33 AND" +
      s" ($acc % 32) = 0 THEN 1 ELSE 0 END) * 1024" +
      s" + ((($acc) $div 16384) % 32 + CASE WHEN $x < 33" +
      s" THEN 1 ELSE 0 END) * 16384"
  }

  /** qm15's 4-bin byte-histogram fold, generated once for both engines
    * (the silenceFoldSql discipline): bin = byte div 64, the four
    * counts pack 5 bits each into one BIGINT (a 16-byte frame bounds
    * every bin at 16), so one left fold replaces four passes — and the
    * packed counts unpack with the same div/mod arithmetic in both
    * dialects. `shl(1, 5·bin)` is the only per-element op. */
  private def histFoldSql(acc: String, x: String, div: String,
                          shl: (String, String) => String): String =
    s"$acc + ${shl(s"CAST(1 AS BIGINT)", s"CAST(5 * (($x) $div 64) AS INT)")}"

  /** 8-bit × 8-bit Morton (Z-order) interleave as a pure integer
    * expression — x's bit i lands at position 2i+1, y's at 2i. The
    * Spark column and the DuckDB SQL string are generated from the SAME
    * loop so qz37's twin folds bit-for-bit identically. */
  private def mortonCol(x: org.apache.spark.sql.Column,
                        y: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  private def mortonSql(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})")
      .mkString(" + ")

  /** Shared engine of qx33/qx47: overlap-only doc pairs with the
    * hot-gram cap applied before the posting self-join. Yields one row
    * per pair sharing ≥ 1 surviving gram — (d1, d2, ni, na, nb) where
    * ni counts surviving shared grams and na/nb are the docs' FULL
    * distinct-gram counts. Scale shape: distinct 60-bit gram keys per
    * doc (narrow native pass), df agg + anti join drop the > cap grams
    * (their df² join output is the quadratic term), equi-join on 8-byte
    * longs, then two size joins on doc_id. */
  private def cappedGramOverlap(s: SparkSession, dir: String): DataFrame = {
    val cap = JaccardGramCap
    val d = graft.Materialize.cut(
      docsWithToks(s, dir).select(col("doc_id"),
        array_distinct(graft.meos.NativeExpressions
          .shingleHashes(col("toks"), 3)).as("shd")))
    val sizes = d.select(col("doc_id"),
      size(col("shd")).cast("double").as("n"))
    val inv = d.select(col("doc_id"), explode(col("shd")).as("s"))
    val hot = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df") > cap).drop("df")
    val small = inv.join(hot, Seq("s"), "left_anti")
    val common = small.select(col("doc_id").as("d1"), col("s"))
      .join(small.select(col("doc_id").as("d2"), col("s")), Seq("s"))
      .where(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).cast("double").as("ni"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("na")),
        Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("nb")),
        Seq("d2"))
  }

  /** The qx61 simhash near-dup pair engine, shared with qz7's method-
    * agreement audit: 4×8-bit pigeonhole bands over the 32-bit simhash
    * (hamming ≤ 3 ⇒ ≥ 1 shared band), capped band equi-join, per-pair
    * position-wise hamming refine. Returns (d1, d2, hamming). */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.Materialize.cut(Tables.documents(s, dir)
      .withColumn("toks", Text.tokens(col("text")))
      .select(col("doc_id"), Text.tokenMd5s(col("toks")).as("th"))
      .select(col("doc_id"),
        graft.meos.NativeExpressions.simhash32(col("th")).as("sh")))
    val sig = sh.select(col("doc_id"), explode(array(
      (0 until 4).map(b =>
        concat(lit(s"$b:"), substring(col("sh"), b * 8 + 1, 8))): _*))
      .as("band"))
    val hamming = aggregate(
      zip_with(split(col("sh1"), ""), split(col("sh2"), ""),
        (x, y) => when(x =!= y, 1).otherwise(0)),
      lit(0), (a, v) => a + v)
    Dedup.bandedPairs(sig)
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")),
        Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        Seq("d2"))
      .select(col("d1"), col("d2"), hamming.cast("long").as("hamming"))
      .where(col("hamming") <= 3)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: content fingerprint groups + canonical keeper
    "qx1_dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(Text.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("keeper"))
        .orderBy("fp")),

    // minhash signatures (4 seeded hashes) — one native pass computes all
    // four mins (the 4-column composed form walked the shingle array four
    // times through interpreted HOF lambdas); element_at over the staged
    // kernel array is CSE'd to a single kernel call under codegen
    "qx2_minhash_sig" -> ((s, dir) =>
      docsWithToks(s, dir).select(
        col("doc_id"), Text.lshBandsFromToks(col("toks"), bands = 4).as("mh"))
        .select(
          col("doc_id"),
          element_at(col("mh"), 1).as("h0"), element_at(col("mh"), 2).as("h1"),
          element_at(col("mh"), 3).as("h2"), element_at(col("mh"), 4).as("h3"))
        .orderBy("doc_id")),

    // LSH candidate pairs: 4 bands × 1 row. Lazy lineage cut: both
    // self-join sides reuse the banded frame instead of re-running the
    // shingle+minhash pipeline per side (reliable checkpoint when a dir
    // is configured — see Materialize).
    // CONTRACT: qx3 is the RAW candidate enumeration — it deliberately
    // has no hot-band guard because it *defines* the full collision set
    // (recall studies, band-size diagnostics). Every production consumer
    // of band pairs (qx11/qp1/qx19 via Dedup.bandedPairs, demonstrated
    // standalone as qx21) applies the bucket-size cap; qx3 is the one
    // query where uncapped is the semantics, to be run on bounded inputs.
    "qx3_lsh_pairs" -> ((s, dir) => {
      val sig = graft.Materialize.cut(
        docsWithToks(s, dir).select(col("doc_id"),
          explode(Text.lshBandsFromToks(col("toks"), bands = 4)).as("band")))
      Dedup.bandedPairs(sig, bandCap = 0).orderBy("d1", "d2")
    }),

    // simhash-32 per document — md5s once (staged alias), then the native
    // one-pass kernel folds all 32 bit votes + majority into the string
    // (the round-1 form recomputed the md5 transform 33 times; the staged
    // built-in composition still allocated a 32-int array per token)
    "qx4_simhash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), Text.tokenMd5s(col("toks")).as("th"))
        .select(col("doc_id"),
          graft.meos.NativeExpressions.simhash32(col("th")).as("simhash"))
        .orderBy("doc_id")),

    // n-gram Jaccard within (lang, size-bucket) blocks — inverted-index
    // shape: |A∩B| comes from an explode + shingle equi-join + count
    // (work scales with ACTUAL shingle co-occurrence, near-zero for
    // unrelated docs), not from per-pair array_intersect over the full
    // quadratic block (which hashes both arrays for every pair — the
    // round-1 plan's dominant cost). The all-pairs frame itself carries
    // only sizes; non-overlapping pairs get ji = 0 via the left join.
    // CONTRACT (scale probe, round 7): the OUTPUT is the full within-
    // block Jaccard matrix INCLUDING ji=0 pairs — quadratic in block
    // population by definition, for bounded blocks/diagnostics. The
    // corpus-scale paths are qx33 (overlap-only pairs + hot-gram cap:
    // output ∝ co-occurrence, per-gram fan-out bounded) and qx26
    // (sketch-composed source-level Jaccard).
    "qx5_ngram_jaccard" -> ((s, dir) => {
      // lazy lineage cut: the shingled frame feeds BOTH sides of two
      // self-joins — without it the tokenize+shingle+distinct pipeline
      // (the expensive part) executes four times (reliable checkpoint
      // when a dir is configured — see Materialize). Shingles are the
      // 60-bit kernel keys, not strings: the inverted-index join
      // shuffles 8-byte longs, and a (deterministic, md5-based) key
      // collision would merge the same pair in BOTH engines, so the
      // oracle stays exact
      val d = graft.Materialize.cut(
        docsWithToks(s, dir).select(col("doc_id"), col("lang"),
          expr("n_chars div 100").as("bucket"),
          array_distinct(graft.meos.NativeExpressions
            .shingleHashes(col("toks"), 3)).as("shd")))
      val sizes = d.select(col("doc_id"), col("lang"), col("bucket"),
        size(col("shd")).cast("double").as("n"))
      val pairs = sizes
        .select(col("doc_id").as("d1"), col("lang"), col("bucket"),
          col("n").as("na"))
        .join(sizes.select(col("doc_id").as("d2"), col("lang"),
          col("bucket"), col("n").as("nb")), Seq("lang", "bucket"))
        .where(col("d1") < col("d2"))
      val inv = d.select(col("doc_id"), col("lang"), col("bucket"),
        explode(col("shd")).as("s"))
      val common = inv
        .select(col("doc_id").as("d1"), col("lang"), col("bucket"), col("s"))
        .join(inv.select(col("doc_id").as("d2"), col("lang"), col("bucket"),
          col("s")), Seq("lang", "bucket", "s"))
        .where(col("d1") < col("d2"))
        .groupBy("d1", "d2")
        .agg(count(lit(1)).cast("double").as("ni"))
      pairs.join(common, Seq("d1", "d2"), "left")
        .select(col("d1"), col("d2"),
          (coalesce(col("ni"), lit(0.0)) /
            (col("na") + col("nb") - coalesce(col("ni"), lit(0.0))))
            .as("ji"))
        .orderBy("d1", "d2")
    }),

    // PRODUCTION n-gram Jaccard — the corpus-scale companion of qx5
    // (found by the round-7 sf0.1→sf1 scale probe: qx5's full matrix
    // grew 96× in shuffle bytes on 10× data — as its contract says it
    // must). Two changes make this one linear-ish in co-occurrence:
    // (a) OVERLAP-ONLY output — pairs sharing ≥1 surviving gram; the
    //     ji=0 padding rows are what made the matrix quadratic;
    // (b) hot-gram cap — grams present in > 64 docs are dropped before
    //     the posting-list self-join (same anti-join discipline as
    //     Dedup.bandedPairs: boilerplate grams carry no similarity
    //     signal and their df² join output IS the quadratic term).
    // ji is computed over each doc's FULL distinct-gram size, so it is
    // the standard boilerplate-insensitive lower bound of true Jaccard.
    "qx33_jaccard_overlap" -> ((s, dir) =>
      cappedGramOverlap(s, dir)
        .select(col("d1"), col("d2"),
          (col("ni") / (col("na") + col("nb") - col("ni"))).as("ji"))
        .orderBy("d1", "d2")),

    // CONTAINMENT near-dup detection — the ASYMMETRIC companion of
    // qx33's Jaccard (Broder's containment): C(A→B) = |A∩B| / |A|
    // catches a short doc embedded verbatim inside a longer host
    // (quote-the-whole-article pages, README-in-every-repo), which
    // symmetric Jaccard dilutes below any threshold as the host grows
    // — |A∩B|/(|A|+|B|-|A∩B|) → 0 while |A∩B|/|A| stays 1. Emits both
    // directions per pair, filtered where either crosses 0.5. Same
    // machinery and scale posture as qx33 (overlap-only pairs, hot-gram
    // cap, 8-byte gram keys); the intersection is over SURVIVING grams
    // while |A| is the doc's full distinct-gram count, so the score is
    // the boilerplate-insensitive lower bound of true containment —
    // single double divisions, bit-stable cross-engine.
    "qx47_containment" -> ((s, dir) =>
      stagedGramOverlap(s, dir)
        .select(col("d1"), col("d2"),
          (col("ni") / col("na")).as("c_fwd"),
          (col("ni") / col("nb")).as("c_rev"))
        .where(greatest(col("c_fwd"), col("c_rev")) >= 0.5)
        .orderBy("d1", "d2")),

    // language-ID heuristic
    // language-ID — the 5 stopword scores are staged through a real
    // projection BEFORE the argmax CASE (each score is referenced ~4× by
    // the comparison chain; inline they'd re-filter the token array per
    // reference — see Text.langIdFromScores)
    "qx6_langid" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id") +: Text.StopwordSets.map { case (l, ws) =>
          Text.stopwordScore(col("toks"), ws).as(s"s_$l") }: _*)
        .select(col("doc_id"),
          Text.langIdFromScores(
            Text.StopwordSets.map { case (l, _) => l -> col(s"s_$l") })
            .as("pred"))
        .orderBy("doc_id")),

    // quality scoring
    "qx7_quality" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          Text.avgWordLen(col("toks")).as("avg_wlen"),
          Text.stopwordRatio(col("toks")).as("stop_ratio"),
          Text.qualityScore(col("toks"), col("n_chars")).as("score"))
        .orderBy("doc_id")),

    // token counting: whitespace + BPE-ish regex
    "qx8_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_ws"),
        Text.regexTokenCount(col("text")).cast("long").as("n_re"))
        .orderBy("doc_id")),

    // bottom-k sketch fingerprint (comma-joined to a scalar string so the
    // driver's pandas compare can sort/hash it; the sketch is unchanged)
    // bottom-k fingerprint — fused native pass (shingle + seeded md5 +
    // bottom-4 in one traversal; the composed form built every gram
    // string, md5'd it through an interpreted HOF, and full-sorted the
    // hash array to keep 4)
    "qx9_bottomk_fingerprint" -> ((s, dir) =>
      docsWithToks(s, dir).select(col("doc_id"),
        array_join(graft.meos.NativeExpressions
          .shingleBottomK(col("toks"), 3, 0, 4), ",").as("fp"))
        .orderBy("doc_id")),

    // exact cosine top-5 for the first 20 vectors
    "qe1_cosine_knn" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 20), 5)
        .orderBy("q_id", "rank")
    }),

    // approximate ANN via random-hyperplane LSH — fully deterministic
    // (fixed plane matrix), so it carries a complete DuckDB oracle twin
    // generated from the same planes; recall vs exact also in specs
    "qe2_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshKnn(emb, emb.where(col("vec_id") < 20), 5)
        .orderBy("q_id", "rank")
    }),

    // embedding-cosine near-duplicate pairs (exact; the dedup mode).
    // This O(n²) form IS the oracle baseline — qe5 below is the declared
    // scale path (LSH candidates into the same refine predicate). The
    // corpus is FENCED to the first 1000 vectors (inert at the sf0.01
    // correctness gate, which has 500) so the declared bench surface
    // stays bounded at any SF instead of going quadratic with the data;
    // the oracle twin carries the same fence.
    "qe3_cosine_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir).where(col("vec_id") < 1000), 0.4)
        .orderBy("i", "j")),

    // cosine range search — all corpus vectors within the radius of each
    // query (the retrieval mode curation wants when the answer count is
    // unknown); completes the similarity family: exact top-k (qe1),
    // LSH (qe2), IVF (qe4), range (qe6)
    "qe6_range_search" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rangeSearch(emb, emb.where(col("vec_id") < 20), 0.25)
        .orderBy("q_id", "n_id")
    }),

    // near-dup pairs at scale: LSH candidate generation + exact refine —
    // deterministic, so oracled like qe2; recall vs qe3 also in ExtSpec
    "qe5_neardup_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir), 0.4)
        .orderBy("i", "j")),

    // IVF ANN — the quantizer is a real distributed k-means fit (recall@5
    // >= 0.9 in ExtSpec). Oracled like qe2: the fitted centroids are
    // memoized per dir and embedded as literals in the DuckDB twin (see
    // `oracle` below) — the same-fit-object trick, because the fit's
    // cross-row avg is only within-process stable. The cache also lets
    // bench re-runs skip the fit.
    "qe4_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfKnn(emb, emb.where(col("vec_id") < 20), 5, nprobe = 8,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .orderBy("q_id", "rank")
    }),

    // IVF range search — the approximate × range quadrant (qe6 is the
    // exact × range baseline); same fit cache as qe4 (one fit serves
    // both), oracled the same way via centroid literals
    "qe7_range_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfRangeSearch(emb, emb.where(col("vec_id") < 20), 0.25,
        nprobe = 8, cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .orderBy("q_id", "n_id")
    }),

    // PQ-ADC top-k — the compressed-domain quadrant of the ANN family:
    // corpus quantized to m=8 cell codes (256 B/vec → 8 B, the way 100 TB
    // of embeddings actually fits in cluster memory), queries score
    // against codebook reconstructions in one codegen'd scan, then a
    // fixed-size shortlist is re-ranked by exact L2 against the original
    // vectors (IVFADC-style two-stage search). Same fit-memoization/
    // oracle technique as qe4 (codebook literals in the DuckDB twin)
    "qe8_pq_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqAdcKnn(emb, emb.where(col("vec_id") < 20), 5,
        cacheKey = Some(s"$dir|pq|m=8|k=16|iters=5"))
        .orderBy("q_id", "rank")
    }),

    // IVFADC — the composition production ANN systems run: IVF bounds
    // WHICH vectors get scored (nprobe cells), PQ bounds WHAT is read to
    // score them (8-byte codes), exact re-rank on the shortlist. Reuses
    // the qe4 centroid fit and qe8 codebook fit via their caches; the
    // twin embeds the same fit objects
    "qe9_ivfadc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqKnn(emb, emb.where(col("vec_id") < 20), 5,
        cacheKeyIvf = Some(s"$dir|nlist=16|iters=5"),
        cacheKeyPq = Some(s"$dir|pq|m=8|k=16|iters=5"))
        .orderBy("q_id", "rank")
    }),

    // RESIDUAL IVFADC — the canonical FAISS IndexIVFPQ composition qe9
    // approximates: PQ codes quantize the residual v − centroid(cell)
    // (centered, low-variance) instead of the raw vector, and each
    // probed cell gets its own per-cell query residual for the ADC
    // tables. Shares the qe4 IVF fit; the residual codebook fit is
    // cached under its OWN key so qe8/qe9's twins keep the raw fit.
    // Residuals are float(double−double) — bit-identical cross-engine
    "qe26_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqResidualKnn(emb, emb.where(col("vec_id") < 20), 5,
        cacheKeyIvf = Some(s"$dir|nlist=16|iters=5"),
        cacheKeyPq = Some(s"$dir|pqres|m=8|k=16|iters=5"))
        .orderBy("q_id", "rank")
    }),

    // SQ8 scalar-quantized ANN — the third compression quadrant (PQ is
    // qe8): per-dimension min/max bounds, byte codes, approximate-cosine
    // shortlist over dequantized vectors, exact re-rank. The SQ fit is
    // exact order-independent aggregates, so the twin recomputes it —
    // the only ANN variant whose oracle needs NO fit-literal memoization
    "qe10_ann_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.sq8Knn(emb, emb.where(col("vec_id") < 20), 5)
        .orderBy("q_id", "rank")
    }),

    // diversified ANN — cluster-quota top-k: one winner per probed IVF
    // cell, ranked by cosine. The retrieval mode RAG rerankers want when
    // the corpus is redundant (k hits from k DISTINCT semantic clusters,
    // not k near-copies of the best hit). Shares the qe4 fit cache;
    // oracled via the same centroid literals
    "qe12_diverse_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.diverseKnn(emb, emb.where(col("vec_id") < 20), nprobe = 8,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .orderBy("q_id", "rank")
    }),

    // SemDeDup-style semantic dedup — the embedding-space counterpart of
    // the lexical near-dup family (qx3/qe5): k-means cells bound the
    // pairwise-cosine work (Σ|cell|², not |corpus|²), min-id domination
    // picks the keeper deterministically. Reuses the qe4/qe7/qe9 IVF fit
    // cache — one quantizer serves search and dedup — and oracles the
    // same way: the fitted centroids become VALUES literals in the twin
    "qe11_semdedup" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), 0.4,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .orderBy("vec_id")),

    // The semDedup hot-cell guard under the gate: same fit, same tau,
    // but cellCap=24 — small enough that every fixture cell re-splits
    // into hash-mod chunks (md5₆₀(id) mod a pow2 chunk count from a
    // broadcast per-cell size frame — no per-cell window, so a
    // pathological hot cell never funnels the corpus through one task),
    // so the capped formulation (the 100 TB skew path, where a collapsed
    // embedding distribution would otherwise go quadratic) is itself
    // DuckDB-oracled, not just the balanced path
    "qz1_semdedup_hotcap" -> ((s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), 0.4, cellCap = 24,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .orderBy("vec_id")),

    // PREFIX-grain duplicate groups — the truncation-dup detector exact
    // dedup (qx1, whole-doc hash) is blind to: crawl snapshots carry the
    // same article cut at different lengths, so group on the first 64
    // chars and report multi-doc groups. Scale shape: the prefix key is
    // computed in the scan projection (64 chars, not the doc), one
    // hash-keyed agg with map-side combine — no sort, no pair join;
    // at 100 TB this is qx1's exact plan at prefix grain
    "qz2_prefix_groups" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(substring(col("text"), 1, 64).as("prefix"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"),
          sum("n_chars").as("total_chars"))
        .where(col("n_docs") >= 2)
        .select(md5(col("prefix")).as("prefix_md5"), col("n_docs"),
          col("keeper"), col("total_chars"))
        .orderBy("prefix_md5")),

    // BLOCKED SORTED-NEIGHBORHOOD near-dup pairs — the third candidate
    // generator next to minhash bands (qx3/qx21) and simhash bands
    // (qx61): sort docs within a cheap block key (first 8 chars) and
    // refine only ADJACENT docs by exact token-set Jaccard. Catches the
    // shared-prefix/truncation family LSH can dilute and costs exactly
    // one window pass — no pair explosion at all (candidates = rows,
    // not rows²). The block key bounds the sort the way the band cap
    // bounds the join: each block sorts independently in parallel
    // (partitionBy(blk) range-partitions at scale; cross-block
    // neighbors are the documented recall tradeoff, same spirit as
    // qz1's chunk boundaries). Token sets are array ops in the scan —
    // integer set sizes, one double division, deterministic
    "qz3_sorted_neighbors" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          array_distinct(Text.tokens(col("text"))).as("ts"),
          substring(col("text"), 1, 8).as("blk"))
      val w = Window.partitionBy("blk").orderBy("text", "doc_id")
      val ji = {
        val ni = size(array_intersect(col("ts"), col("ts2"))).cast("double")
        ni / (size(col("ts")) + size(col("ts2")) -
          size(array_intersect(col("ts"), col("ts2")))).cast("double")
      }
      d.withColumn("d2", lead("doc_id", 1).over(w))
        .withColumn("ts2", lead("ts", 1).over(w))
        .where(col("d2").isNotNull)
        .select(col("doc_id").as("d1"), col("d2"), ji.as("ji"))
        .where(col("ji") >= 0.5)
        .orderBy("d1", "d2")
    }),

    // corpus-composition MUTUAL INFORMATION — how much the source tells
    // you about the language (and vice versa): the pointwise MI of every
    // (source, lang) cell of the composition cross-tab, the audit that
    // catches a crawl whose "French" is all from one domain. Integer
    // cell/margin counts (exact), one log per emitted row — no
    // cross-row float accumulation anywhere, so the result hashes
    // bit-identically cross-engine (qx29's PMI discipline). Scale
    // shape: |sources|×|langs| cells from one metadata-only groupBy —
    // the text column is never read
    "qz4_source_lang_mi" -> ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val ms = cells.groupBy("source").agg(sum("n").as("ns"))
      val ml = cells.groupBy("lang").agg(sum("n").as("nl"))
      val tot = cells.agg(sum("n").as("nt"))
      cells.join(ms, "source").join(ml, "lang").crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n"),
          (col("n").cast("double") / col("nt").cast("double")).as("p"),
          // rounded for ln() ulp portability (see qx28/qx29)
          round(log((col("n").cast("double") * col("nt").cast("double")) /
            (col("ns").cast("double") * col("nl").cast("double"))), 9)
            .as("pmi"))
        .orderBy("source", "lang")
    }),

    // robust LENGTH-OUTLIER filter stats — median/MAD (not mean/stddev:
    // one 10 GB pathological doc should not move the filter) per
    // source: exact discrete median via the qx18 cumulative-histogram
    // rule, MAD as the median of integer deviations, outliers at
    // |len − med| > 3·MAD. All compares on exact integers — no float
    // quantile interpolation to drift cross-engine. Scale shape: two
    // bounded-domain histogram rollups (|sources|×|distinct lengths|)
    // plus a metadata-only scan — the filter this parameterizes runs
    // fused in the ingest scan
    "qz5_length_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def medOf(df: DataFrame, valCol: String, part: String): DataFrame = {
        val hist = df.groupBy(part, valCol).agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy(part).orderBy(valCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("cum", sum("c").over(wc))
          .withColumn("total", sum("c").over(Window.partitionBy(part)))
          .groupBy(part)
          .agg(min(when(col("cum") * 2 >= col("total"), col(valCol)))
            .as("med"))
      }
      val docs = Tables.documents(s, dir).select("source", "n_chars")
      val med = medOf(docs, "n_chars", "source")
      val dev = docs.join(med, "source")
        .withColumn("dev", abs(col("n_chars") - col("med")))
      val mad = medOf(dev.select(col("source"), col("dev")), "dev", "source")
        .withColumnRenamed("med", "mad")
      docs.join(med, "source").join(mad, "source")
        .groupBy(col("source"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(abs(col("n_chars") - col("med")) > col("mad") * 3, 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("source"), col("n_docs"), col("med"), col("mad"),
          col("n_outliers"),
          (col("n_outliers").cast("double") / col("n_docs").cast("double"))
            .as("outlier_frac"))
        .orderBy("source")
    }),

    // LINE-grain boilerplate dedup (Dedup.lineDedup) — the synthetic
    // corpus is single-line, so the gate-visible input is STAGED: a
    // per-source boilerplate header, an every-third-doc promo line vs a
    // per-doc ref line, the real body, and a doc_id%13 footer, all glued
    // with real newlines in BOTH engines (the qc2 golden-staging
    // discipline). Header/promo/footer cross the df>=5 bar and are
    // stripped; ref + body survive — so the oracle checks removal,
    // retention, order-preserving reassembly, and the NULL-on-empty
    // contract in one hash
    "qx62_line_dedup" -> ((s, dir) => {
      val staged = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("subscribe to our newsletter - "), col("source"),
          lit("\n"),
          when(col("doc_id") % 3 === 0, lit("limited time offer"))
            .otherwise(concat(lit("ref "),
              col("doc_id").cast("string"))),
          lit("\n"), col("text"), lit("\n"),
          lit("copyright footer "),
          (col("doc_id") % 13).cast("string")).as("text"))
      Dedup.lineDedup(staged, minDf = 5L)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("out_text")).as("out_fp"))
        .orderBy("doc_id")
    }),

    // PII/volatile-token scrub (Text.scrubPii) — emails, URLs, UUIDs,
    // digit runs, masked in that order with per-class counts (the qx27
    // digit pass widened to the classes production redaction needs).
    // The corpus carries no PII, so the gate input is staged: a
    // source-derived email, a doc_id-pathed URL, an md5-derived UUID
    // and an order number appended identically in both engines — the
    // oracle then checks regex parity (Java vs RE2), replace-ALL
    // semantics, class ordering (the URL's path digits must be masked
    // as URL, not NUM), and the scrubbed-text hash
    "qx63_pii_scrub" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val staged = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact "), col("source"),
          lit("@example.com see http://"), col("source"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" session "),
          substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
          substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
          substring(h, 21, 12),
          lit(" order #"), (col("doc_id") * 37).cast("string"))
          .as("text"))
      staged
        .select(col("doc_id"), Text.scrubPii(col("text")).as("p"))
        .select(col("doc_id"), col("p.n_email"), col("p.n_url"),
          col("p.n_uuid"), col("p.n_num"), md5(col("p.text")).as("out_fp"))
        .orderBy("doc_id")
    }),

    // QUALITY-ARGMAX keeper selection — production dedup keeps the BEST
    // duplicate, not the first-seen one: the qx11 minhash clusters
    // re-kept by qx7's quality score (ties -> smallest doc_id). The
    // keeper rule is a per-cluster window rank; clusters are small by
    // construction (band-capped), so the window partition never
    // concentrates. Exercises that keeper policy is orthogonal to
    // cluster discovery — same graph, different survivor set
    "qz6_best_keeper" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val cl = stagedClusters(s, dir).select("doc_id", "cluster")
      val q = docs.withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"),
          Text.qualityScore(col("toks"), col("n_chars")).as("score"))
      val w = Window.partitionBy("cluster")
        .orderBy(desc("score"), col("doc_id"))
      cl.join(q, Seq("doc_id"))
        .withColumn("kept", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster"), col("score"), col("kept"))
        .orderBy("doc_id")
    }),

    // DEDUP-METHOD AGREEMENT audit — do minhash clustering (qx11) and
    // simhash banding (qx61) flag the same documents? Per doc: member
    // of a multi-doc minhash cluster vs member of any hamming≤3 simhash
    // pair, plus the agreement bit. The confusion mass tells you
    // whether the cheaper method can gate for the expensive one on this
    // corpus — a method-selection report, same family as the qx57/qx59
    // parameter sweeps but across ALGORITHMS. Both sides are the
    // existing capped production paths; the rollups are doc-grain.
    "qz7_dedup_agreement" -> ((s, dir) => {
      val cl = stagedClusters(s, dir)
      val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("csz"))
      val mhFlag = cl.join(sizes, Seq("cluster"))
        .select(col("doc_id"), (col("csz") > 1).as("mh_dup"))
      val pairs = stagedSimhashPairs(s, dir)
      val shDocs = pairs.select(col("d1").as("doc_id"))
        .union(pairs.select(col("d2").as("doc_id")))
        .distinct().withColumn("sh_dup", lit(true))
      mhFlag.join(shDocs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("mh_dup"),
          coalesce(col("sh_dup"), lit(false)).as("sh_dup"),
          (col("mh_dup") === coalesce(col("sh_dup"), lit(false)))
            .as("agree"))
        .orderBy("doc_id")
    }),

    // PAGERANK over the capped near-dup graph (the qx55 edge set) —
    // high-rank nodes are boilerplate HUBS: documents banding with many
    // other high-degree documents, the ones whose removal collapses the
    // most candidate pairs. First ITERATIVE fixed-point computation
    // under the oracle gate: 5 unrolled power steps, declared as one
    // plan (a Scala fold — no driver loop, no collect). Float
    // discipline: ALL integer — rank mass in nano-units, damping 0.85
    // as exact 17/20 integer ops, per-edge contribution pr div deg —
    // so cross-row sums are order-independent and both engines agree
    // bit-for-bit with zero rounding plumbing. Scale shape: edges+deg
    // cut once and reused by all 5 steps; each step is one edge-grain
    // shuffle (how distributed PageRank works) over the CAPPED pair
    // set (≤ cap×|sig|, never corpus²); nodes outside the graph are
    // excluded (their rank is the uniform floor by definition).
    "qz8_dupgraph_pagerank" -> ((s, dir) =>
      // pairs from the shared per-dir staged band-join fact (round 17)
      Dedup.pagerankNano(stagedBandedPairs(s, dir)).orderBy("doc_id")),

    // GRADED ranking-quality eval — nDCG@10 / AP@10 / MRR of the IVF
    // approximate ranking (qe4's config at nprobe=4) against graded
    // relevance from the EXACT top-50 (grade 3: ranks 1-5, 2: 6-15,
    // 1: 16-50): qe17's recall sweep says how many true neighbors
    // survive; this says whether they surface in the right ORDER — the
    // position-sensitive metric retrieval evals actually report. Float
    // discipline: gains are the integers 0/1/3/7, each position's
    // contribution is round(gain/log2(pos+1), 9) (the qz4 rounding rule
    // absorbing engine log ulps), per-query sums are rank-ORDERED folds
    // (the qx25 bit-parity rule), AP terms are exact integer divisions,
    // the IDCG is computed not assumed. Scale: truth is the broadcast
    // brute-force leg over a fixed 20-query fence; everything after is
    // ≤ 20×50 rows.
    "qz9_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 20)
      val gain = when(col("g") === 3, 7.0).when(col("g") === 2, 3.0)
        .when(col("g") === 1, 1.0).otherwise(0.0)
      val truth = Similarity.bruteForceKnn(emb, qs, 50)
        .select(col("q_id"), col("n_id"),
          when(col("rank") <= 5, 3).when(col("rank") <= 15, 2)
            .otherwise(1).as("g"))
      val sys = Similarity.ivfKnn(emb, qs, k = 10, nprobe = 4,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .select(col("q_id"), col("n_id"), col("rank"))
      val wq = Window.partitionBy("q_id").orderBy("rank")
      val rows = sys.join(truth, Seq("q_id", "n_id"), "left")
        .withColumn("g", coalesce(col("g"), lit(0)))
        .withColumn("rel", (col("g") >= 1).cast("int"))
        .withColumn("hits", sum(col("rel")).over(wq))
        .withColumn("cd", round(gain /
          log2(col("rank").cast("double") + lit(1.0)), 9))
        .withColumn("ca", when(col("rel") === 1,
          col("hits").cast("double") / col("rank").cast("double"))
          .otherwise(0.0))
      val per = rows.groupBy("q_id")
        .agg(array_sort(collect_list(struct(col("rank"), col("cd"),
          col("ca")))).as("xs"),
          min(when(col("rel") === 1, col("rank"))).as("mr"))
        .select(col("q_id"),
          aggregate(col("xs"), lit(0.0),
            (a, x) => a + x.getField("cd")).as("dcg10"),
          (aggregate(col("xs"), lit(0.0),
            (a, x) => a + x.getField("ca")) / lit(10.0)).as("ap10"),
          when(col("mr").isNull, 0.0)
            .otherwise(lit(1.0) / col("mr").cast("double")).as("mrr"))
      val wi = Window.partitionBy("q_id").orderBy(desc("g"), col("n_id"))
      val ideal = truth.withColumn("p", row_number().over(wi))
        .where(col("p") <= 10)
        .withColumn("ci", round(gain /
          log2(col("p").cast("double") + lit(1.0)), 9))
        .groupBy("q_id")
        .agg(array_sort(collect_list(struct(col("p"), col("ci"))))
          .as("ys"))
        .select(col("q_id"),
          aggregate(col("ys"), lit(0.0),
            (a, y) => a + y.getField("ci")).as("idcg10"))
      per.join(ideal, Seq("q_id"))
        .select(col("q_id"), col("dcg10"), col("idcg10"),
          (col("dcg10") / col("idcg10")).as("ndcg10"),
          col("ap10"), col("mrr"))
        .orderBy("q_id")
    }),

    // BPE MERGE-CANDIDATE audit — the first step of byte-pair-encoding
    // tokenizer induction: count adjacent character pairs WITHIN words
    // (every char bigram of every whitespace token) and rank the top
    // 30 — exactly the frequency table whose argmax BPE merges first.
    // Completes the tokenizer family (qx49 coverage, qx51 fertility)
    // with the INDUCTION member. Scale shape: one narrow map-side
    // explode; the agg keys on char-bigram TYPES (bounded by alphabet²,
    // not by corpus size), so the ranking window runs over a tiny
    // frame however large the corpus.
    "qz10_bpe_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cands = Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("t"))
        .where(length(col("t")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("t")) - 1),
          i => col("t").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
      // GLOBAL-WINDOW BOUND (distinct-value): char-bigram TYPES, ≤ alphabet²
      val w = Window.orderBy(desc("cnt"), col("pair"))
      cands.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 30)
        .select("rank", "pair", "cnt")
        .orderBy("rank")
    }),

    // SQ8 RECONSTRUCTION-ERROR audit — the accuracy gauge for the qe10
    // compression quadrant (qe19 gauges IVF cell balance; this gauges
    // scalar-quantization fidelity): per label, the corpus-bounds SQ8
    // encode→decode error — mean/max per-vector MSE and mean cosine
    // between each vector and its reconstruction. The SQ fit is
    // per-dimension min/max (exact, order-independent aggregates), so
    // the twin recomputes the bounds itself and the whole audit oracles
    // with NO fit literal (the qe10 rule, unlike the k-means fits).
    // Float discipline: per-vector folds run in dimension order, every
    // paren of the dequant expression mirrored; cross-row sums are
    // integer nano-units (qe18 rule). Scale shape: one 2×dim broadcast
    // bounds row + one narrow corpus scan + a |labels|-key agg —
    // O(n·d), no pairs anywhere.
    "qe20_quant_error" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bounds = emb.select(posexplode(col("embedding")))
        .groupBy("pos")
        .agg(min(col("col").cast("double")).as("mn"),
          max(col("col").cast("double")).as("mx"))
      val bRow = bounds
        .agg(array_sort(collect_list(struct(col("pos"), col("mn"))))
          .as("ls"),
          array_sort(collect_list(struct(col("pos"), col("mx"))))
            .as("hs"))
        .select(transform(col("ls"), x => x.getField("mn")).as("mns"),
          transform(col("hs"), x => x.getField("mx")).as("hxs"))
      // the EXACT dequant expression qe10's scorer uses
      val deq = transform(col("embedding"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("hxs"), i + 1)
        val code = floor((x.cast("double") - mn) / (mx - mn) * lit(255.0)
          + lit(0.5))
        when(mx > mn,
          mn + code.cast("double") * ((mx - mn) / lit(255.0)))
          .otherwise(mn)
      })
      def fold(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (a, v) => a + v)
      emb.crossJoin(broadcast(bRow))
        .select(col("vec_id"), col("label"),
          size(col("embedding")).as("dim"), col("embedding"),
          deq.as("dv"))
        .withColumn("err2", fold(zip_with(col("embedding"), col("dv"),
          (x, d0) => (x.cast("double") - d0) * (x.cast("double") - d0))))
        .withColumn("dxd",
          Similarity.dotComposed(col("embedding"), col("dv")))
        .withColumn("dxx",
          Similarity.dotComposed(col("embedding"), col("embedding")))
        .withColumn("ddd",
          fold(zip_with(col("dv"), col("dv"), (a0, b0) => a0 * b0)))
        .select(col("label"),
          floor(col("err2") / col("dim") * lit(1e9)).cast("long")
            .as("mse_nn"),
          floor(col("dxd") / (sqrt(col("dxx")) * sqrt(col("ddd")))
            * lit(1e9)).cast("long").as("cos_nn"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          (sum(col("mse_nn")).cast("double") /
            count(lit(1)).cast("double") / lit(1e9)).as("mean_mse"),
          (max(col("mse_nn")).cast("double") / lit(1e9)).as("max_mse"),
          (sum(col("cos_nn")).cast("double") /
            count(lit(1)).cast("double") / lit(1e9)).as("mean_cos_recon"))
        .orderBy("label")
    }),

    // SPLIT-HALF CENTROID DRIFT — the embedding-health monitor for
    // pipeline evolution: per label, the per-dimension mean vector of
    // the even-vec_id half vs the odd half (a deterministic split of
    // one corpus standing in for yesterday's batch vs today's), and
    // the L2 / cosine drift between the two centroids. A re-embedded
    // or corrupted feed moves centroids long before ANN recall decays
    // (qe18 detects COLLAPSE; this detects DRIFT). Float discipline:
    // per-(label,half,dim) integer nano sums, means via one double
    // division, drift folds in dimension order. Scale shape: one
    // narrow posexplode + a labels×2×dim-key agg + a labels-key
    // rollup — O(n·d) and the rollup frame is fit-sized.
    "qe21_centroid_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = emb.select(col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")))
        .groupBy("label", "half", "pos")
        .agg(sum(floor(col("col").cast("double") * lit(1e9)).cast("long"))
          .as("s_nn"), count(lit(1)).as("cnt"))
        .select(col("label"), col("half"), col("pos"),
          (col("s_nn").cast("double") / col("cnt").cast("double") /
            lit(1e9)).as("m"))
      val j = m.where(col("half") === 0)
        .select(col("label"), col("pos"), col("m").as("m0"))
        .join(m.where(col("half") === 1)
          .select(col("label"), col("pos"), col("m").as("m1")),
          Seq("label", "pos"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("m0"),
          col("m1")))).as("xs"))
      def f(c: org.apache.spark.sql.Column,
            g: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (a, x) => a + g(x))
      val counts = emb.groupBy("label")
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L))
          .as("n0"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n1"))
      j.select(col("label"),
          f(col("xs"), x => (x.getField("m0") - x.getField("m1")) *
            (x.getField("m0") - x.getField("m1"))).as("d2"),
          f(col("xs"), x => x.getField("m0") * x.getField("m1"))
            .as("dt"),
          f(col("xs"), x => x.getField("m0") * x.getField("m0"))
            .as("s0"),
          f(col("xs"), x => x.getField("m1") * x.getField("m1"))
            .as("s1"))
        .join(counts, Seq("label"))
        .select(col("label"), col("n0"), col("n1"),
          sqrt(col("d2")).as("l2_drift"),
          (col("dt") / (sqrt(col("s0")) * sqrt(col("s1"))))
            .as("cos_drift"))
        .orderBy("label")
    }),

    // OUTPUT-SHARD PLANNING — the write-side manifest a 100 TB curation
    // job needs before `df.write`: pack each source's docs (doc_id
    // order, byte sizes) into ~64 KiB shards by cumulative-byte
    // assignment and report per shard: doc count, bytes, id range, and
    // fill factor — the report that predicts output-file skew (a shard
    // with fill ≫ 1 is one giant doc; thousands of fill ≪ 1 shards
    // mean the target is too small). Same shard-partitioned-window
    // cumsum discipline as qx37's packer, BYTE grain instead of token
    // grain, SHARD-grain manifest instead of doc-grain assignment.
    "qz11_shard_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .withColumn("cum", sum(col("n_bytes")).over(w))
        .withColumn("shard", expr("(cum - n_bytes) div 65536"))
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("bytes"),
          min(col("doc_id")).as("doc_lo"), max(col("doc_id")).as("doc_hi"))
        .select(col("source"), col("shard"), col("n_docs"), col("bytes"),
          col("doc_lo"), col("doc_hi"),
          (col("bytes").cast("double") / lit(65536.0)).as("fill"))
        .orderBy("source", "shard")
    }),

    // INTRA-DOC repeated-n-gram fraction — the Gopher/MassiveText
    // repetition gate the family still lacked at gram grain (qx15 flags
    // top-TERM/BIGRAM concentration; this flags whole REPEATED 3-GRAM
    // mass — boilerplate loops, chorus text, copy-paste padding): per
    // doc, (gram instances − distinct grams) / instances, flagged past
    // the standard 0.15 threshold. Integer counts, one exact double
    // division per row. Scale shape: pure narrow map (the shingle
    // arrays never leave their row) + presentation sort — no shuffle.
    "qx64_rep_ngram_frac" -> ((s, dir) =>
      docsWithShingles(s, dir)
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          ((col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams").cast("double")).as("rep_frac"))
        .withColumn("flagged", col("rep_frac") > 0.15)
        .orderBy("doc_id")),

    // QUALITY-DECILE DUP LIFT — does near-dup mass concentrate in
    // low-quality strata? (If yes, dedup doubles as a quality filter;
    // if no, the two gates are independent and both are needed.) Per
    // quality decile: doc count, near-dup members (qx11's capped
    // minhash clusters), dup rate. Deciles are computed SCALE-CORRECTLY
    // — no global rank window over the corpus: quality scores quantize
    // to milli-units, a bounded-domain histogram + cumulative window
    // over DISTINCT values (the qx18 discipline) derives the 9 type-1
    // thresholds, and each doc's decile is 9 broadcast integer
    // comparisons. Ties at a threshold share a decile by construction
    // (documented rule; deciles are near-equal, not exactly equal).
    "qz12_decile_dup_lift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val cl = stagedClusters(s, dir)
      val dup = cl
        .join(cl.groupBy("cluster").agg(count(lit(1)).as("csz")),
          Seq("cluster"))
        .select(col("doc_id"), (col("csz") > 1).as("is_dup"))
      val scored = docs.withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"),
          floor(Text.qualityScore(col("toks"), col("n_chars")) *
            lit(1000.0)).cast("long").as("sq"))
      val hist = scored.groupBy("sq").agg(count(lit(1)).as("c"))
      // cumulative over DISTINCT quantized scores only (bounded domain —
      // score range × 1000 buckets regardless of corpus size)
      // GLOBAL-WINDOW BOUND (distinct-value): ≤ 1001 quantized score buckets
      val wc = Window.orderBy("sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wc))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("total"))))
      val thrCols = (1 to 9).map(k =>
        min(when(col("cum") * 10 >= col("total") * k, col("sq")))
          .as(s"t$k"))
      val ts = cum.agg(thrCols.head, thrCols.tail: _*)
      scored.crossJoin(broadcast(ts))
        .select(col("doc_id"),
          (1 to 9).map(k =>
            when(col("sq") >= col(s"t$k"), 1).otherwise(0))
            .reduce(_ + _).cast("long").as("decile"))
        .join(dup, Seq("doc_id"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
        .select(col("decile"), col("n_docs"), col("n_dup"),
          (col("n_dup").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"))
        .orderBy("decile")
    }),

    // the THIRD composed pipeline — INGEST-TO-SHARDS (qp1 curates, qp2
    // mixes; this is the write-out job): PII-laden input (the qx63
    // staging) → scrub → exact dedup on the SCRUBBED fingerprint →
    // quality gate → per-source shard plan, one declarative plan with a
    // per-source loss-accounting manifest. The ordering is the point:
    // scrubbing BEFORE dedup collapses documents that differed only in
    // volatile tokens (session ids, order numbers — the qx27 insight at
    // production grain), so n_dedup < n_raw even where raw fingerprints
    // are all distinct. Scale shape: the scrubbed frame is cut once
    // (regex CPU paid once, not per join side), one fp-grain shuffle +
    // self-grouped keeper join, score is a narrow map, shard cumsum
    // partitions by source (qx37 discipline), manifest is
    // |sources|-bounded.
    "qp3_ingest_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = md5(col("doc_id").cast("string"))
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          concat(col("text"), lit(" contact "), col("source"),
            lit("@example.com see http://"), col("source"),
            lit(".example.com/p/"), col("doc_id").cast("string"),
            lit(" session "),
            substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
            substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
            substring(h, 21, 12),
            lit(" order #"), (col("doc_id") * 37).cast("string"))
            .as("t0"))
      val fp = graft.Materialize.cut(staged
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          Text.scrubPii(col("t0")).getField("text").as("clean"))
        .withColumn("fp", md5(col("clean"))))
      val keep = fp
        .join(fp.groupBy("fp").agg(min("doc_id").as("keeper")), Seq("fp"))
        .withColumn("kept", col("doc_id") === col("keeper"))
        .withColumn("score",
          Text.qualityScore(Text.tokens(col("text")), col("n_chars")))
        .withColumn("q_ok", col("kept") && col("score") >= lit(10.0))
      val w = Window.partitionBy("source").orderBy("doc_id")
      val shards = keep.where(col("q_ok"))
        .select(col("source"), col("doc_id"),
          octet_length(col("clean")).cast("long").as("nb"))
        .withColumn("cum", sum("nb").over(w))
        .withColumn("shard", expr("(cum - nb) div 65536"))
        .groupBy("source")
        .agg((max(col("shard")) + 1).as("n_shards"),
          sum(col("nb")).as("bytes_out"))
      keep.groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_quality"))
        .join(shards, Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("n_dedup"),
          col("n_quality"),
          coalesce(col("bytes_out"), lit(0L)).as("bytes_out"),
          coalesce(col("n_shards"), lit(0L)).as("n_shards"))
        .orderBy("source")
    }),

    // TERM BURSTINESS (Church/Gale variance-to-mean dispersion) — the
    // corpus-statistics family's DISPERSION member (qx28 entropy, qx30
    // Zipf, qx60 Heaps): a term with VMR ≫ 1 clumps into few documents
    // (topical/boilerplate), VMR ≈ 1 scatters Poisson-like (function
    // words) — the signal that separates "frequent because ubiquitous"
    // from "frequent because one doc repeats it". Top-30 burstiest
    // among df ≥ 5 terms. Float discipline: VMR derives from three
    // EXACT integers (Σc, Σc², df) + the corpus count through a fixed
    // paren-mirrored op sequence. Scale shape: doc×term fact → one
    // vocabulary-keyed agg; the ranking window runs over the df-filtered
    // vocab frame, never the corpus.
    "qx66_burstiness" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val n = docs.agg(count(lit(1)).as("nd"))
      val tc = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val mean = col("total").cast("double") / col("nd").cast("double")
      val vmr = (col("s2").cast("double") / col("nd").cast("double") -
        mean * mean) / mean
      // top-30 via TakeOrdered (per-partition heaps), NOT a rank window
      // over the whole vocabulary — the window form funneled every
      // distinct token through one task (the qx81 class, closed in the
      // round-12 audit); the rank is then stamped post-limit.
      // GLOBAL-WINDOW BOUND (post-limit): 30 rows after TakeOrdered
      val w = Window.orderBy(desc("vmr"), col("t"))
      tc.groupBy("t")
        .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
          sum(col("c") * col("c")).as("s2"))
        .where(col("df") >= 5)
        .crossJoin(broadcast(n))
        .withColumn("vmr", vmr)
        .orderBy(desc("vmr"), col("t")).limit(30)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("t").as("term"), col("df"), col("total"),
          col("vmr"))
        .orderBy("rank")
    }),

    // RHP SKETCH RANKING-FIDELITY sweep — the sign-sketch accuracy
    // audit completing the family (qx54 audits minhash Jaccard error,
    // qe17 IVF recall, qz9 ranking quality, qe20 SQ8 reconstruction):
    // over a fixed 20-vector fence, Kendall tau-a concordance between
    // signature hamming distance (at 16/32/64 of the SHARED seed-42
    // plane matrix's bits) and exact cosine — "does the bit budget
    // order pairs the way the true geometry does", the property LSH
    // bucketing actually relies on. Deliberately transcendental-free
    // (no cos/acos estimator) so both engines agree bit-for-bit:
    // hamming is integer, cosine is the standard fold, tau is an exact
    // integer difference over an exact integer count. Scale shape:
    // everything past the fence is constant-size (190 pairs, 3×17,955
    // comparisons) however large the corpus.
    "qz13_rhp_fidelity" -> ((s, dir) => {
      val ps = Similarity.planes(64, 64, 42L)
      def bitsCol(v: org.apache.spark.sql.Column) = array(ps.map { p =>
        when(aggregate(zip_with(v, lit(p), (x, w0) =>
          x.cast("double") * w0), lit(0.0), (a0, x) => a0 + x) >= 0, 1)
          .otherwise(0)
      }: _*)
      def ham(b: Int) = aggregate(
        zip_with(slice(col("b1"), 1, b), slice(col("b2"), 1, b),
          (x, y) => abs(x - y)), lit(0), (a0, x) => a0 + x)
      val f = Tables.embeddings(s, dir).where(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      val g = f.select(col("vec_id"), col("embedding"),
        bitsCol(col("embedding")).as("bits"))
      val pairs = g.select(col("vec_id").as("i"),
          col("embedding").as("e1"), col("bits").as("b1"))
        .crossJoin(g.select(col("vec_id").as("j"),
          col("embedding").as("e2"), col("bits").as("b2")))
        .where(col("i") < col("j"))
        .select(col("i"), col("j"),
          Similarity.cosine(col("e1"), col("e2")).as("cos"),
          ham(16).as("h16"), ham(32).as("h32"), ham(64).as("h64"))
      val lv = pairs.select(col("i"), col("j"), col("cos"),
        explode(array(
          struct(lit(16L).as("nbits"), col("h16").as("h")),
          struct(lit(32L).as("nbits"), col("h32").as("h")),
          struct(lit(64L).as("nbits"), col("h64").as("h")))).as("x"))
        .select(col("i"), col("j"), col("cos"), col("x.nbits"),
          col("x.h"))
      val l = lv.select(col("nbits"), col("i").as("i1"),
        col("j").as("j1"), col("cos").as("c1"), col("h").as("h1"))
      val r = lv.select(col("nbits"), col("i").as("i2"),
        col("j").as("j2"), col("cos").as("c2"), col("h").as("h2"))
      l.join(r, Seq("nbits"))
        .where(col("i1") < col("i2") ||
          (col("i1") === col("i2") && col("j1") < col("j2")))
        .select(col("nbits"),
          ((col("h1") < col("h2") && col("c1") > col("c2")) ||
            (col("h1") > col("h2") && col("c1") < col("c2")))
            .cast("long").as("conc"),
          ((col("h1") < col("h2") && col("c1") < col("c2")) ||
            (col("h1") > col("h2") && col("c1") > col("c2")))
            .cast("long").as("disc"))
        .groupBy("nbits")
        .agg(count(lit(1)).as("n_cmp"), sum(col("conc")).as("n_conc"),
          sum(col("disc")).as("n_disc"))
        .select(col("nbits"), col("n_cmp"), col("n_conc"), col("n_disc"),
          ((col("n_conc") - col("n_disc")).cast("double") /
            col("n_cmp").cast("double")).as("tau_a"))
        .orderBy("nbits")
    }),

    // HARD-NEGATIVE MINING — contrastive-training data prep (the
    // retrieval-training counterpart of qz9's eval): for each fenced
    // query vector, the top-5 most-similar vectors whose LABEL differs —
    // maximally confusing negatives, exactly what embedding-model
    // training pairs need. Same broadcast-fence + WindowGroupLimit
    // shape as qe1; the label inequality prunes in the scan.
    "qe22_hard_negatives" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
      emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("label").as("n_label"))
        // BROADCAST BOUND (query-anchors): 20 query rows (vec_id < 20)
        .crossJoin(broadcast(qs))
        .where(col("q_id") =!= col("n_id") &&
          col("n_label") =!= col("q_label"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("n_id"), col("n_label"), col("cos"))
        .orderBy("q_id", "rank")
    }),

    // FRAME BYTE-STATISTICS — the multimodal family's first member that
    // computes over the frame BYTES themselves (qm1 metadata, qm2
    // samples, qm3/qm4 fingerprint-dedup): per sampled frame, the
    // energy (byte-value sum), peak byte, and mean byte — the "signal
    // statistics" pass a real audio/image pipeline runs after decode
    // (here over the deterministic synthetic bytes; the decode itself
    // stays the documented Multimodal stub). Byte values come from a
    // hex fold (exact integers) so the DuckDB twin matches bit-for-bit.
    // Narrow map over frames, no shuffle beyond the presentation sort.
    "qm5_frame_stats" -> ((s, dir) => {
      frameByteVectors(s, dir)
        .where(col("frame_len") > 0)
        .select(col("doc_id"), col("frame_no"), col("frame_len"),
          aggregate(col("bv"), lit(0L), (a0, x) => a0 + x).as("energy"),
          array_max(col("bv")).as("peak"))
        .withColumn("mean_byte",
          col("energy").cast("double") / col("frame_len").cast("double"))
        .orderBy("doc_id", "frame_no")
    }),

    // SPAN-CORRUPTION MASK PLAN — T5-style pretraining-objective prep:
    // tokens group into length-3 spans, each span flips a deterministic
    // ~15% md5 coin (the qx12 hex-prefix rule keyed on doc_id:span —
    // reproducible across engines AND training runs), and the per-doc
    // report carries what the objective needs: masked-token count,
    // sentinel count (= masked spans), realized mask fraction. Pure
    // narrow map + doc-grain rollup — no shuffle beyond the agg.
    "qx67_span_mask_plan" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), expr("pos div 3").as("span"))
        .withColumn("masked",
          substring(md5(concat_ws(":", col("doc_id"), col("span"))), 1, 8)
            < lit("26666666")) // 0x26666666/16^8 ≈ 15%
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("masked") && col("pos") % 3 === 0, 1L)
            .otherwise(0L)).as("n_spans_masked"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked_toks"))
        .select(col("doc_id"), col("n_toks"), col("n_spans_masked"),
          col("n_masked_toks"),
          (col("n_masked_toks").cast("double") /
            col("n_toks").cast("double")).as("mask_frac"))
        .orderBy("doc_id")),

    // JSON property extraction from the events props column
    "qx10_json_extract" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // minhash dedup clusters: LSH pairs -> connected components
    "qx11_dedup_clusters" -> ((s, dir) =>
      Dedup.minhashClusters(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // codec lifecycle on real data — HASH-GATED since round 10 (was the
    // artifact's one rows-only row): assemble tgeompoint trips, run the
    // full native codec chain per trip (hex-WKB encode → decode →
    // re-encode, WKT print), and gate through IDENTITY — a row survives
    // only if encode∘decode∘encode == encode byte-for-byte AND the
    // print leg produced bytes. The emitted columns (per-user instant
    // count + span micros) are exact relational facts DuckDB recomputes
    // from events independently, so ANY codec regression drops rows and
    // the driver's row/hash compare fails — the roundtrip identity IS
    // the oracle condition. (Exact string goldens stay in CodecSpec +
    // qc2's golden hash row.)
    "qc1_codec_roundtrip" -> ((s, dir) => {
      import graft.meos.{Assembly, MeosFunctions, NativeExpressions}
      val asm = Assembly.tpointAssemble()
      Tables.events(s, dir)
        .withColumn("y", length(col("props")).cast("double"))
        .groupBy("user_id")
        .agg(asm(unix_micros(col("ts")), col("event_id"), col("value"),
          col("y")).as("s"))
        .select(col("user_id"), Assembly.tpointVal(col("s")).as("trip"))
        // whole codec chain native: print and both WKB legs run as
        // codegen'd expressions (no Row boxing anywhere in the plan).
        // Roundtrip stability is asserted on the WKB BYTES
        // (encode∘decode∘encode == encode — byte-for-byte, a stricter
        // check than print equality)
        .withColumn("hex1",
          NativeExpressions.tgeompointAsHexWkb(col("trip")))
        .where(NativeExpressions.tgeompointAsHexWkb(
          NativeExpressions.tgeompointFromHexWkb(col("hex1")))
          === col("hex1"))
        // the print leg must run and produce bytes for every trip
        .where(length(NativeExpressions.tgeompointOut(col("trip"))) > 0)
        .select(col("user_id"),
          MeosFunctions.tgeompointNumInstants(col("trip"))
            .cast("long").as("n"),
          unix_micros(MeosFunctions.tgeompointStartTs(col("trip")))
            .as("t0_us"))
        .orderBy("user_id")
    }),

    // codec GOLDEN gate — qc1's missing hash row: a fixed case table of
    // WKT literals covering every wire-format branch (instant, SRID,
    // linear/discrete/step sequences, half-open bounds, Z, negative
    // fractional coords) runs the full native chain — parse → hex-WKB →
    // re-parse → min-digit print + MF-JSON — and the twin is a VALUES
    // table of the committed golden strings, so any byte-level codec
    // regression (field order, flag packing, epoch math, digit
    // minimization) hash-mismatches in the driver's DuckDB gate instead
    // of only in CodecSpec. Input-data-independent by design.
    "qc2_codec_golden" -> ((s, dir) => {
      import graft.meos.{MeosFunctions, NativeExpressions}
      import s.implicits._
      val df = CodecGoldenCases.toDF("case_id", "wkt_in")
      df.withColumn("hexwkb", NativeExpressions.tgeompointAsHexWkb(
          NativeExpressions.tgeompointParse(col("wkt_in"))))
        .withColumn("wkt", NativeExpressions.tgeompointOut(
          NativeExpressions.tgeompointFromHexWkb(col("hexwkb"))))
        .withColumn("mfjson", MeosFunctions.tgeompointAsMfJson(
          NativeExpressions.tgeompointParse(col("wkt_in"))))
        .select("case_id", "hexwkb", "wkt", "mfjson")
        .orderBy("case_id")
    }),

    // multimodal metadata plumbing (binary payload + typed meta struct)
    "qm1_multimodal_meta" -> ((s, dir) =>
      Multimodal.synthMedia(s, dir).select(
        col("doc_id"),
        col("meta.nbytes").as("nbytes"),
        md5(col("bytes")).as("sha"))
        .orderBy("doc_id")),

    // frame sampling over "video" payloads — every 4th 16-byte frame as
    // pure binary expressions (posexplode of substring slices, no UDF);
    // the decode that would follow each frame is the declared stub. The
    // frame key is its HEX, not a hash (same rationale as qm4): the twin
    // slices hex(encode(text)) at doubled offsets, which is byte-exact
    // on any UTF-8 corpus — no ASCII char/byte-offset assumption
    "qm2_frame_sample" -> ((s, dir) =>
      Multimodal.synthMedia(s, dir)
        .select(col("doc_id"), posexplode(
          Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4)))
        .toDF("doc_id", "frame_no", "frame")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          hex(col("frame")).as("frame_hex"),
          octet_length(col("frame")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_no")),

    // histogram-based EXACT quantiles of doc length per language — the
    // scale-correct way to take exact percentiles over a bounded-domain
    // integer measure: a (lang, n_chars) histogram (one shuffle of
    // distinct values, partials absorb repeats), a cumulative window per
    // lang over the distinct values only, then "smallest value whose
    // cumulative count covers q·total" (type-1 quantile — all integer
    // comparisons, no interpolation float). Spark's percentile() holds
    // every value in the agg state; this holds one row per DISTINCT value.
    "qx18_length_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.documents(s, dir)
        .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("c").over(wc))
        .withColumn("total", sum("c").over(Window.partitionBy("lang")))
      def q(pct: Int) =
        min(when(col("cum") * 100 >= col("total") * pct, col("n_chars")))
      cum.groupBy("lang")
        .agg(q(25).as("p25"), q(50).as("p50"), q(75).as("p75"),
          q(95).as("p95"))
        .orderBy("lang")
    }),

    // deterministic stratified downsampling — the "rebalance
    // over-represented languages/sources" pipeline op. The sample
    // decision is a pure function of the row key (md5 bucket compared
    // against a per-stratum hex threshold; fixed-width lowercase hex
    // compares identically in both engines), so it is reproducible
    // across runs/engines, needs no state, and at 100 TB is a narrow
    // filter fused into the scan stage by whole-stage codegen — no
    // shuffle, no sampling coordinator, rows drop before any exchange.
    "qx12_stratified_sample" -> ((s, dir) => {
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 8)
      val keepBelow = when(col("lang") === "en", lit("40000000")) // 25%
        .when(col("lang") === "zh", lit("80000000")) // 50%
        .otherwise(lit("c0000000")) // 75%
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .where(col("bucket") < keepBelow)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    }),

    // benchmark decontamination — flag training docs sharing any word
    // n-gram with a probe/benchmark set (here: doc_id % 97 == 0 stands in
    // for the benchmark corpus). Shape at 100 TB: the probe side's
    // distinct shingles are small (benchmark suites, not the corpus) →
    // broadcast hash join against a narrow corpus-side explode; count of
    // shared DISTINCT shingles per doc, zero-overlap docs kept via left
    // join — one pass over the corpus, no corpus-side self-join.
    "qx13_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    // TF-IDF rare-term extraction — top-3 most characteristic terms per
    // doc. Oracle-parity discipline: NO cross-row float sums and NO
    // transcendentals (idf is the ratio (N+1)/(df+1), not a log) — every
    // double op is per-row IEEE arithmetic both engines reproduce
    // bit-for-bit; ties in tfidf break on the term string. Scale shape:
    // one exploded-token frame feeds both the per-(doc,term) count and
    // the document-frequency agg (lineage cut so the scan runs once);
    // the df join shuffles on term (vocabulary-sized, heavy-hitter-free
    // because df keys are distinct terms); the corpus count N broadcasts.
    "qx14_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      // ONE token-grain pass: the (doc, term) aggregate feeds BOTH the
      // tf side and the document frequency (df = row count per term over
      // cnt — cnt already has exactly one row per distinct (doc, term),
      // so the old distinct + second token-grain shuffle was redundant
      // work on the largest frame in the query). The cut pins the small
      // aggregated frame, not the exploded tokens.
      val cnt = graft.Materialize.cut(docs
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), size(col("toks")).as("n_toks"),
          explode(col("toks")).as("term"))
        .groupBy("doc_id", "n_toks", "term")
        .agg(count(lit(1)).as("cnt")))
      val dfreq = cnt.groupBy("term").agg(count(lit(1)).as("df"))
      val nDf = docs.agg(count(lit(1)).as("n"))
      val scored = cnt.join(dfreq, "term").crossJoin(broadcast(nDf))
        .withColumn("tfidf",
          (col("cnt").cast("double") / col("n_toks").cast("double")) *
            ((col("n").cast("double") + lit(1.0)) /
              (col("df").cast("double") + lit(1.0))))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    }),

    // Gopher-style repetition filter — flag docs dominated by one term or
    // one bigram (top-term frequency ratio / top-bigram ratio over
    // per-doc integer counts; the standard "remove boilerplate/spam"
    // quality rule). All ratios are exact integer counts with one double
    // division, so the oracle matches bit-for-bit. Scale shape: two
    // grouped aggs keyed by doc_id — shuffles carry one row per distinct
    // (doc, term), partial aggregation absorbs in-doc repetition
    // map-side; no joins besides the doc_id-aligned assembly.
    "qx15_repetition" -> ((s, dir) =>
      Curation.repetitionRatios(Tables.documents(s, dir))
        .withColumn("flagged",
          col("top_term_ratio") > 0.2 || col("top_bigram_ratio") > 0.18)
        .orderBy("doc_id")),

    // cross-source overlap matrix — near-dup candidate pairs (the qx3
    // LSH bands) rolled up by unordered source pair: the "how much does
    // dump A duplicate dump B" accounting that decides which crawl
    // snapshots are worth ingesting. Pair generation is the PRODUCTION
    // banded equi-join (Dedup.bandedPairs — hot-band cap on, so one
    // boilerplate band can't go quadratic); the rollup shuffles one row
    // per pair, grouped on a 20×20-bounded key space.
    "qx19_source_overlap" -> ((s, dir) => {
      // pairs from the shared per-dir staged band-join fact (round 17)
      val pairs = stagedBandedPairs(s, dir)
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"), col("source").as("s1")),
          Seq("d1"))
        .join(src.select(col("doc_id").as("d2"), col("source").as("s2")),
          Seq("d2"))
        .select(least(col("s1"), col("s2")).as("sa"),
          greatest(col("s1"), col("s2")).as("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("n_pairs"))
        .orderBy("sa", "sb")
    }),

    // hot-band-capped LSH pairs — the skew guard every production LSH
    // needs: a band bucket of size n contributes n(n-1)/2 pairs, so one
    // boilerplate-heavy band (every "lorem ipsum" page, every empty doc)
    // can go quadratic on its own. Buckets over the cap are dropped
    // BEFORE the self-join (bounded recall loss, standard practice;
    // pairs inside an over-cap bucket are overwhelmingly caught by the
    // other bands). Work is now provably ≤ cap × |sig| regardless of the
    // corpus's duplication structure. The size filter rides the same
    // band-keyed shuffle as the join — one extra agg, no extra scan.
    // Since round 7 this guard IS the production path (Dedup.bandedPairs,
    // default cap 64, feeding qx11/qp1/qx19); this query demonstrates it
    // with an aggressive cap=3 so the sf0.01 fixture actually trips it.
    "qx21_lsh_capped" -> ((s, dir) => {
      val sig = graft.Materialize.cut(
        docsWithToks(s, dir).select(col("doc_id"),
          explode(Text.lshBandsFromToks(col("toks"), bands = 4)).as("band")))
      Dedup.bandedPairs(sig, bandCap = 3).orderBy("d1", "d2")
    }),

    // source-mixture rebalancing — the "data mixing" step of corpus
    // assembly: compute each source's token mass, derive the keep-rate
    // that would equalize every source's contribution to the token
    // budget (capped at 1 — undersized sources keep everything), and
    // apply it with the deterministic md5-bucket coin (the qx12
    // mechanism, here against a COMPUTED rate: the 32-bit hex prefix as
    // a uniform in [0,1)). Exact integer token sums, one double division
    // chain mirrored in the twin. Scale shape: two broadcasts (per-source
    // masses, corpus totals) over one narrow pass — the decision never
    // shuffles the corpus.
    "qx22_mixture_rebalance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      val perSrc = docs.groupBy("source")
        .agg(sum("n_toks").as("src_tokens"))
      val tot = docs.agg(sum("n_toks").as("total_tokens"),
        count_distinct(col("source")).as("n_sources"))
      docs.join(broadcast(perSrc), "source").crossJoin(broadcast(tot))
        .withColumn("keep_rate",
          least(lit(1.0),
            (col("total_tokens").cast("double") /
              col("n_sources").cast("double")) /
              col("src_tokens").cast("double")))
        .withColumn("u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .withColumn("kept",
          col("u").cast("double") / lit(4294967296.0) < col("keep_rate"))
        .select("doc_id", "source", "keep_rate", "kept")
        .orderBy("doc_id")
    }),

    // BM25 ranked retrieval — the lexical-search scorer (Robertson k1/b
    // form) for a fixed conjunctive query, top-20 docs. Oracle-parity
    // discipline: the idf is the RATIONAL (N-df+0.5)/(df+0.5) (no log —
    // transcendentals aren't bit-stable cross-engine), avgdl is an exact
    // integer sum with one double division, and the per-doc score sums
    // its ≤|query| term scores through a term-SORTED left-to-right fold
    // (cross-row float order pinned). Scale shape: one tokenize+explode
    // narrow pass filtered to query terms BEFORE any shuffle (the
    // per-(doc,term) agg carries only query-term hits), df and corpus
    // stats are tiny broadcasts, ranking is a WindowGroupLimit top-k.
    "qx20_bm25" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val qterms = Seq("spark", "join", "window", "stream")
      val docs = Tables.documents(s, dir)
      val tok = docs
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          col("toks"))
      val stats = tok.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val tf = tok
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .where(col("term").isin(qterms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // BROADCAST BOUND (fixed-k): df rows exist only for the fixed query-term list
      val scored = tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("score",
          ((col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dl").cast("double") /
                (col("sdl").cast("double") / col("n").cast("double"))))))
      val perDoc = scored.groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          array_sort(collect_list(struct(col("term"), col("score"))))
            .as("ts"))
        .select(col("doc_id"), col("n_terms"),
          aggregate(col("ts"), lit(0.0),
            (a, s) => a + s.getField("score")).as("bm25"))
      // global top-k as TakeOrdered (per-partition heaps + merge — no
      // single-partition sort of the full corpus); the rank window then
      // runs over 20 rows only
      // GLOBAL-WINDOW BOUND (post-limit): 20 rows after TakeOrdered
      val w = Window.orderBy(desc("bm25"), col("doc_id"))
      perDoc.orderBy(desc("bm25"), col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(w).cast("long"))
        .select("doc_id", "n_terms", "bm25", "rank")
        .orderBy("rank")
    }),

    // exact substring-span REMOVAL — qx16 measures the cross-doc 13-gram
    // duplication rate; this actually cuts the duplicated spans out
    // (Lee et al.'s "Deduplicating Training Data Makes Language Models
    // Better" exact-substring dedup, at word-token granularity): a token
    // is removed when ANY duplicated 13-gram covers it. Dataflow: one
    // gram frame (60-bit keys, qx16's staging) → distinct-doc df → dup
    // START positions; coverage is a rangeBetween(-12, 0) running-max
    // window over token positions — interval union as a WINDOW, no
    // token×gram range join (the naive spelling); per-doc reassembly of
    // the kept tokens is bounded by the doc itself. Cost stays linear in
    // corpus tokens at any scale.
    "qx23_span_removal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), col("toks"))
      // gram starts: (doc, p) + 60-bit gram key — the native one-pass
      // kernel emits every gram's key straight from the digest bytes
      // (bit-identical to the conv(substring(md5(g),1,15),16,10) staging,
      // with no gram/hex strings materialized — NativeExprSpec)
      val grams = graft.Materialize.cut(toks
        .select(col("doc_id"), posexplode(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13)))
        .select(col("doc_id"), col("pos").as("p"), col("col").as("h")))
      val dupStarts = grams
        .join(grams.select("doc_id", "h").distinct()
          .groupBy("h").agg(count(lit(1)).as("n_docs")), "h")
        .where(col("n_docs") >= 2)
        .select(col("doc_id"), col("p"))
      // per-doc dup-start list (tiny: one int per duplicated gram start),
      // then the coverage test "∃ start p ∈ [t-12, t]" runs as a per-ROW
      // two-pointer sweep over the doc's own token array (native kernel —
      // O(L + m·log m), not the O(L·m) per-token exists scan that went
      // quadratic on fully-duplicated long docs) — no token re-explode,
      // no (doc,t) join shuffle, no window exchange, no struct-sort
      // collect. Kept tokens rebuild the scrubbed text in position order
      // for free (the sweep preserves array order).
      val starts = dupStarts.groupBy("doc_id")
        .agg(collect_list(col("p")).as("ps")) // kernel sorts internally
      toks.join(starts, Seq("doc_id"), "left")
        .withColumn("ps", coalesce(col("ps"), array().cast("array<int>")))
        .withColumn("keep", graft.meos.NativeExpressions.coverageKeep(
          col("toks"), col("ps"), 12))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          (size(col("toks")) - size(col("keep"))).cast("long")
            .as("n_removed"),
          md5(concat_ws(" ", col("keep"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // mean-inverse-frequency document scoring — the transcendental-free
    // stand-in for unigram-LM surprisal (a doc's average "rarity" of its
    // tokens: Σ tf_doc(t)·(N/tf_corpus(t)) / n_toks). High scores = docs
    // made of rare vocabulary; the standard cheap signal next to qx7's
    // rule score and qx15's repetition ratios. All counts integer, the
    // per-doc sum folds in term order (both engines), one division at
    // the end — bit-stable cross-engine. Scale: one token explode, two
    // keyed shuffles (term, doc), vocabulary table never collected.
    "qx25_mean_inv_freq" -> ((s, dir) => {
      // term-count frame feeds the vocab rollup, the corpus total AND
      // the scoring join — cut once (qx5's multi-consumer pattern)
      val tf = graft.Materialize.cut(
        Tables.documents(s, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long")
            .as("n_toks"), explode(col("toks")).as("term"))
          .groupBy("doc_id", "n_toks", "term")
          .agg(count(lit(1)).as("c")))
      val gt = tf.groupBy("term").agg(sum(col("c")).as("tfg"))
      val tot = tf.agg(sum(col("c")).as("nt"))
      tf.join(gt, "term")
        .crossJoin(broadcast(tot))
        .withColumn("s", col("c").cast("double") *
          (col("nt").cast("double") / col("tfg").cast("double")))
        .groupBy("doc_id", "n_toks")
        .agg(array_sort(collect_list(struct(col("term"), col("s"))))
          .as("ts"))
        .select(col("doc_id"), col("n_toks"),
          (aggregate(col("ts"), lit(0.0), (a, x) => a + x.getField("s")) /
            col("n_toks").cast("double")).as("mif"))
        .orderBy("doc_id")
    }),

    // text normalization scrub — the standard pre-dedup canonicalization
    // (mask volatile tokens so near-identical pages with different
    // counters/dates/ids fingerprint identically): digit runs → <num>,
    // with the replacement count as the volatility signal. Regex kept to
    // the Java∩RE2 common subset so both engines scrub identically;
    // narrow map, no shuffle.
    "qx27_normalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_nums"),
        md5(regexp_replace(col("text"), "[0-9]+", "<num>"))
          .as("norm_md5"))
        .orderBy("doc_id")),

    // per-doc token-distribution Shannon entropy — the quality signal
    // that separates natural prose (high entropy) from boilerplate /
    // keyword-stuffed / repeated-phrase pages (low): H = -Σ p·ln p over
    // the doc's term frequencies. All terms of a doc live in its own
    // row, so this is a NARROW MAP — the one-pass native kernel
    // (sort + run-length + term-ordered fold) replaces the naive
    // explode + two shuffles; nothing global, scales linearly. Rounded
    // to 9 decimals: ln() is the one non-bit-portable piece (JVM
    // Math.log vs DuckDB's libm differ in the last ulp), and 1e-9 is
    // far below any quality-threshold use of entropy.
    "qx28_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        // empty token sets produce no unnest rows in the twin; split()
        // never returns an empty array, so this only guards degenerates
        .where(size(col("toks")) >= 1)
        .select(col("doc_id"),
          round(graft.meos.NativeExpressions.tokenEntropy(col("toks")), 9)
            .as("entropy"))
        .orderBy("doc_id")),

    // corpus-level collocation mining via pointwise mutual information —
    // which adjacent token pairs co-occur far above chance: pmi =
    // ln((c_xy/N2) / ((c_x/N1)·(c_y/N1))), min-support 5, top 100.
    // Bigram and unigram counts are two narrow explode+groupBy passes;
    // the scoring joins are vocabulary-sized (dimension tables against
    // the bigram fact — AQE broadcasts them at any realistic vocab).
    // All math is per-row on exact BIGINT counts → deterministic.
    "qx29_pmi_bigrams" -> ((s, dir) => {
      val d = docsWithToks(s, dir)
      val uni = d.select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cx"))
      val n1 = uni.agg(sum(col("cx")).as("n1"))
      val bi = d.select(explode(Text.shingles(col("toks"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
      val n2 = bi.agg(sum(col("cxy")).as("n2"))
      bi.withColumn("x", split(col("bg"), " ").getItem(0))
        .withColumn("y", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("term").as("x"), col("cx")), "x")
        .join(uni.select(col("term").as("y"), col("cx").as("cy")), "y")
        .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("bg"),
          // rounded for ln() ulp portability (see qx28)
          round(log((col("cxy").cast("double") / col("n2").cast("double")) /
            ((col("cx").cast("double") / col("n1").cast("double")) *
              (col("cy").cast("double") / col("n1").cast("double")))), 9)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bg"))
        .limit(100)
    }),

    // corpus summary card — the per-(source, lang) rollup a curation run
    // publishes next to its drop log: doc/char/token totals (exact
    // BIGINTs) and mean token entropy. The entropy leg rides the qx28
    // one-pass kernel (narrow map), so the whole card is one shuffle on
    // a 20×3-bounded key space; the mean folds the per-doc rounded
    // entropies in doc_id order (qx25 discipline) for bit parity.
    "qx32_corpus_card" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("doc_id"),
          col("n_chars"), Text.tokens(col("text")).as("toks"))
        .select(col("source"), col("lang"), col("doc_id"),
          col("n_chars"), size(col("toks")).cast("long").as("n_toks"),
          round(graft.meos.NativeExpressions.tokenEntropy(col("toks")), 9)
            .as("ent"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_toks")).as("total_toks"),
          array_sort(collect_list(struct(col("doc_id"), col("ent"))))
            .as("es"))
        .select(col("source"), col("lang"), col("n_docs"),
          col("total_chars"), col("total_toks"),
          (aggregate(col("es"), lit(0.0), (a, x) =>
            a + x.getField("ent")) / col("n_docs").cast("double"))
            .as("mean_entropy"))
        .orderBy("source", "lang")),

    // Heaps-law gram-novelty audit — per doc (in ingest order), the
    // fraction of its distinct 3-gram TYPES never seen in any earlier
    // doc. The curve this traces (novelty decay as the corpus grows) is
    // the standard "is this dump adding anything" signal next to qx19's
    // pairwise overlap. Shape: distinct (doc, gram-key) explode, a
    // first-seen min() rollup per gram, one join back — linear in gram
    // types, 8-byte keys throughout (the qx16 hashing).
    "qx31_novelty" -> ((s, dir) => {
      // within-doc dedup happens PER ROW (array_distinct on the kernel
      // output), so nothing fat ever shuffles: n_types is a narrow map,
      // and n_new is the first-seen rollup grouped twice (gram → min
      // doc, then min doc → count) — no distinct exchange, no
      // gram-grain join back
      val d = graft.Materialize.cut(Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), array_distinct(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 3))
          .as("hs")))
      val types = d.select(col("doc_id"),
        size(col("hs")).cast("long").as("n_types"))
      val nnew = d.select(col("doc_id"), explode(col("hs")).as("h"))
        .groupBy("h").agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_new"))
      types.join(nnew, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_types"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          (coalesce(col("n_new"), lit(0L)).cast("double") /
            col("n_types").cast("double")).as("novelty"))
        .orderBy("doc_id")
    }),

    // corpus-trained bigram-LM score — the CCNet/Gopher-style perplexity
    // proxy without an external model: train add-α bigram counts on the
    // corpus itself, score each doc by its mean negative log-likelihood
    // -log P(w2|w1) = -log((c(w1w2)+α)/(c(w1·)+α·V)). Low score =
    // predictable/templated text, high = unusual; both tails are the
    // standard drop candidates. Shape: everything rides the (doc, bigram)
    // count frame (the qx14 discipline — the raw explode never shuffles);
    // bigram/context counts are vocabulary-sized dims AQE broadcasts
    // against it; V is a one-row broadcast. The only transcendental is
    // ln(), rounded at 9 per distinct bigram (qx28 discipline); the
    // per-doc mean folds k·nll in bigram order for bit parity.
    "qx34_lm_score" -> ((s, dir) => {
      import graft.meos.NativeExpressions.shingleHashes
      val d = docsWithToks(s, dir)
      // 60-bit gram keys (the qx16/qx31 hashing) — nothing downstream of
      // the explode ever carries a string: bh = bigram hash, xh = hash of
      // the bigram's FIRST token (position-aligned kernel outputs zipped;
      // xh is functionally determined by bh, so min() just carries it
      // through the (doc, bigram) rollup)
      val occ = graft.Materialize.cut(d.select(col("doc_id"),
          explode(arrays_zip(
            shingleHashes(col("toks"), 2).as("bh"),
            slice(shingleHashes(col("toks"), 1), lit(1),
              size(col("toks")) - 1).as("xh"))).as("p"))
        .select(col("doc_id"), col("p.bh").as("bh"), col("p.xh").as("xh"))
        .groupBy("doc_id", "bh")
        .agg(min(col("xh")).as("xh"), count(lit(1)).as("k")),
        checkpoint = true)
      val cb = graft.Materialize.cut(occ.groupBy("bh")
        .agg(min(col("xh")).as("xh"), sum(col("k")).as("cxy")),
        checkpoint = true)
      // context count = Σ bigrams sharing the first token (self-consistent
      // with the numerator — no doc-final-token edge case)
      val cxt = cb.groupBy("xh").agg(sum(col("cxy")).as("cx"))
      val vt = d.select(explode(shingleHashes(col("toks"), 1)).as("t"))
        .agg(count_distinct(col("t")).as("v"))
      val nll = cb.join(cxt, "xh").crossJoin(broadcast(vt))
        .select(col("bh"), round(-log(
          (col("cxy").cast("double") + lit(0.5)) /
            (col("cx").cast("double") + lit(0.5) * col("v").cast("double"))),
          9).as("nll"))
      // fold the per-bigram weights in VALUE order — identical doubles
      // commute, so sorting by w itself is deterministic without carrying
      // the bigram string through the aggregate (qx32 carries a key only
      // because entropies are per-doc-unique; weights need no tiebreak)
      occ.join(nll, "bh")
        .select(col("doc_id"), col("k"),
          (col("k").cast("double") * col("nll")).as("w"))
        .groupBy("doc_id")
        .agg(sum(col("k")).as("n_bigrams"),
          array_sort(collect_list(col("w"))).as("ws"))
        .select(col("doc_id"), col("n_bigrams"),
          (aggregate(col("ws"), lit(0.0), (a, x) => a + x) /
            col("n_bigrams").cast("double")).as("lm_score"))
        .orderBy("doc_id")
    }),

    // DSIR-style importance weights (Xie et al. 2023): hashed-n-gram
    // bag-of-words models for a TARGET slice (stand-in for "high-quality
    // reference corpus": the three highest-volume English sources) and
    // the full corpus; per-doc weight = Σ_b k_b·log(p̂_t(b)/p̂_s(b)) over
    // a FIXED 8192-bucket feature space (unigrams + bigrams, 60-bit gram
    // keys mod B). The fixed bucket space is the scale story: both
    // models are ≤B-row frames broadcast against the (doc, bucket) fact,
    // which shuffles once at ≤doc-length grain — corpus size never
    // enters a join key's cardinality. Fold discipline = qx34 (value
    // order; ln rounded at 9 per bucket).
    "qx35_dsir_weights" -> ((s, dir) => {
      val w = graft.ext.Models.dsirWeights(docsWithToks(s, dir),
        col("lang") === "en" && col("source").isin("src18", "src6", "src7"))
      Tables.documents(s, dir).select(col("doc_id"))
        .join(w, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("dsir_weight"), lit(0.0)).as("dsir_weight"))
        .orderBy("doc_id")
    }),

    // multinomial Naive Bayes language classifier over the qx35 hashed
    // feature space — the trained-classifier curation shape (fastText-
    // style quality/language gates) with no external model; see
    // Models.nbClassify for the plan posture. NOTE on the fixture: the
    // driver's synthetic corpus draws every lang from ONE shared
    // vocabulary, so the label is (by construction) uninformative and a
    // correct NB collapses to the prior — the hash gate checks the
    // MACHINERY (counts, smoothing, folds, argmax), and ExtSpec proves
    // the same code separates a planted informative fixture.
    "qx36_nb_langid" -> ((s, dir) =>
      graft.ext.Models.nbClassify(docsWithToks(s, dir), "lang",
        // labelSource: the unfiltered table — the dict legs prune to the
        // lang column instead of tokenizing the full text 3× (see
        // Models.nbClassify; output-invariant by the label-superset
        // argument there)
        labelSource = Some(Tables.documents(s, dir)))
        .select(col("doc_id"), col("label").as("lang"),
          col("pred").as("pred_lang"), col("correct"))
        .orderBy("doc_id")),

    // exact k-NN label classification — the eval-side consumer of the
    // similarity family (and the first exerciser of the embeddings
    // `label` column): 5 nearest neighbors vote, majority wins, smallest
    // label breaks ties. Probes broadcast across one corpus scan (the
    // qe1 posture); the vote rollup is probe-sized.
    "qe13_knn_classify" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val knn = Similarity.bruteForceKnn(
        emb, emb.where(col("vec_id") % 50 === 0), 5)
      val w = Window.partitionBy("q_id")
        .orderBy(col("votes").desc, col("n_label"))
      knn.join(emb.select(col("vec_id").as("n_id"),
          col("label").as("n_label")), "n_id")
        .groupBy("q_id", "n_label").agg(count(lit(1)).as("votes"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .join(emb.select(col("vec_id").as("q_id"), col("label")), "q_id")
        .select(col("q_id"), col("label").cast("long").as("label"),
          col("n_label").cast("long").as("predicted"), col("votes"),
          (col("n_label") === col("label")).as("correct"))
        .orderBy("q_id")
    }),

    // Zipf rank-frequency slope per source — the distribution-shape
    // audit for a corpus dump (natural language tracks slope ≈ -1 on
    // log rank vs log freq; generated/templated text departs): rank
    // terms within source by frequency, OLS-fit ln(freq) on ln(rank)
    // over the top 200 ranks. The per-source vocab rollup is the only
    // shuffle; the 200-element fit runs as four deterministic
    // rank-ordered folds (closed-form OLS — no order-sensitive
    // covariance aggregate, so the twin matches bit-for-bit).
    "qx30_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tc = Tables.documents(s, dir)
        .select(col("source"), explode(Text.tokens(col("text")))
          .as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      val ranked = tc.withColumn("rank", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("c").desc, col("term"))))
        .where(col("rank") <= 200)
        .select(col("source"),
          struct(col("rank"), log(col("rank").cast("double")).as("x"),
            log(col("c").cast("double")).as("y")).as("pt"))
        .groupBy("source")
        .agg(array_sort(collect_list(col("pt"))).as("pts"))
      def fsum(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        aggregate(col("pts"), lit(0.0), (a, p) => a + f(p))
      ranked.select(col("source"), size(col("pts")).cast("double").as("n"),
          fsum(_.getField("x")).as("sx"), fsum(_.getField("y")).as("sy"),
          fsum(p => p.getField("x") * p.getField("y")).as("sxy"),
          fsum(p => p.getField("x") * p.getField("x")).as("sxx"))
        .select(col("source"),
          // rounded for ln() ulp portability (see qx28)
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 9)
            .as("zipf_slope"))
        .orderBy("source")
    }),

    // sketch-composed cross-source Jaccard — "how similar are dump A and
    // dump B" WITHOUT joining raw data: each source folds its shingle
    // set into a bottom-64 KMV sketch (bounded state, one shuffle of
    // 64-row partials — the only thing that moves at 100 TB), then the
    // Beyer-et-al estimator runs on sketch pairs alone: take the
    // bottom-k of the union, count how many of those live in BOTH
    // sketches, divide by min(k, |union|) — exact when the union fits
    // under k, ~1/sqrt(k) error above. Deterministic (md5 order
    // statistics), so the twin reproduces it bit-for-bit — unlike any
    // HLL-based sketch comparison. qx19 answers the same question from
    // LSH candidate pairs (per-doc granularity); this answers it from
    // two 64-hash fingerprints.
    "qx26_sketch_jaccard" -> ((s, dir) => {
      val k = 64
      val g = Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 3)
        .select(col("source"), explode(Text.shingles(col("toks"), 3))
          .as("gr"))
        .select(col("source"), md5(col("gr")).as("h"))
      val sk = g.groupBy("source")
        .agg(graft.ext.Sketch.kmvSet(k)(col("h")).as("sk"))
        .select(col("source"), col("sk.hs").as("hs"))
      val a = sk.select(col("source").as("s1"), col("hs").as("ha"))
      val b = sk.select(col("source").as("s2"), col("hs").as("hb"))
      a.join(b, col("s1") < col("s2"))
        .withColumn("u",
          slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
        .select(col("s1"), col("s2"),
          (size(array_intersect(array_intersect(col("u"), col("ha")),
            col("hb"))).cast("double") /
            least(lit(k), size(col("u"))).cast("double")).as("j_est"))
        .orderBy("s1", "s2")
    }),

    // hybrid retrieval via reciprocal-rank fusion — the standard way
    // production search combines a sparse (BM25, qx20's scorer) and a
    // dense (embedding-cosine, qe1's scorer) ranking without score
    // calibration: rrf = Σ 1/(60 + rank). Both legs produce 50-deep
    // rankings (sparse over the query terms, dense around the probe
    // vector = doc 0's embedding — documents and embeddings are 1:1 by
    // id), full-outer-joined on doc id, top-20 fused. Rank-based → no
    // cross-engine float drift beyond the two divisions, which are
    // IEEE-identical. Scale: each leg is its own already-scaled operator;
    // the fusion join touches ≤ 100 rows.
    "qx24_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val qterms = Seq("spark", "join", "window", "stream")
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          col("toks"))
      val stats = tok.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      val tf = tok
        .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .where(col("term").isin(qterms: _*))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // BROADCAST BOUND (fixed-k): df rows exist only for the fixed query-term list
      val sparse = tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .withColumn("score",
          ((col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5))) *
            (col("tf").cast("double") * lit(2.2)) /
            (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dl").cast("double") /
                (col("sdl").cast("double") / col("n").cast("double"))))))
        .groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("term"), col("score"))))
          .as("ts"))
        .select(col("doc_id"),
          aggregate(col("ts"), lit(0.0),
            (a, s) => a + s.getField("score")).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(50)
        .withColumn("rank_s",
          // GLOBAL-WINDOW BOUND (post-limit): 50 rows after TakeOrdered
          row_number().over(Window.orderBy(desc("bm25"), col("doc_id")))
            .cast("long"))
        .select("doc_id", "rank_s")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity
        .bruteForceKnn(emb, emb.where(col("vec_id") === 0), 50)
        .select(col("n_id").as("doc_id"), col("rank").as("rank_d"))
      // GLOBAL-WINDOW BOUND (post-limit): full-outer of two ≤50-row legs
      val wF = Window.orderBy(desc("rrf"), col("doc_id"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rank_s").cast("double")),
            lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rank_d").cast("double")),
              lit(0.0)))
        .orderBy(desc("rrf"), col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(wF).cast("long"))
        .select("doc_id", "rank_s", "rank_d", "rrf", "rank")
        .orderBy("rank")
    }),

    // the END-TO-END curation pipeline — quality gate, repetition gate,
    // minhash-LSH near-dup dedup, benchmark decontamination, stratified
    // sampling, composed into one declarative plan with per-doc loss
    // accounting (first-failing-stage attribution, the way production
    // pipelines report drops). Every stage reuses an already-oracled
    // operator, so the WHOLE pipeline hash-matches one composed DuckDB
    // twin — including the recursive-CTE connected components.
    "qp1_curation_pipeline" -> ((s, dir) =>
      Curation.pipeline(Tables.documents(s, dir),
        // the dedup flag rides the qx11/qz7 per-dir cluster staging —
        // value-identical (stagedClusters IS minhashClusters(documents)),
        // so the banding+CC chain no longer re-runs on every evaluation
        clustersFlag = Some(stagedClusters(s, dir)
          .select(col("doc_id"), col("keeper"))))
        .orderBy("doc_id")),

    // concat-and-cut sequence packing — the GPT-style pretraining batch
    // layout (documents concatenated in corpus order, cut into fixed
    // 256-token training examples): per doc, its global token offset
    // within its source shard and the first/last example ("bin") it
    // lands in, plus whether it straddles an example boundary (the
    // attention-masking accounting every packer needs). Pure prefix
    // arithmetic over a per-source running sum — the window partitions
    // by source (the shard key), so at 100 TB each shard's prefix sum is
    // an independent partition and nothing ever funnels through a global
    // order. All-integer math (div), bit-exact cross-engine.
    "qx37_pack_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("source"), col("doc_id"), col("n_toks"),
          (col("cum") - col("n_toks")).as("start_off"),
          expr("(cum - n_toks) div 256").as("first_bin"),
          expr("(cum - 1) div 256").as("last_bin"))
        .withColumn("straddles", col("first_bin") =!= col("last_bin"))
        .orderBy("source", "doc_id")
    }),

    // sliding-window chunking with overlap — the RAG/embedding-prep
    // shape (64-token chunks, stride 48 ⇒ 16-token overlap): one row per
    // (doc, chunk) with the chunk's token count and content fingerprint.
    // chunk count = 1 + ceil((n−64)/48) in pure integer math (the
    // greatest() guard keeps the negative-numerator case away from the
    // engines' differing div semantics). Narrow map + bounded explode —
    // no shuffle anywhere except the final presentation sort; at 100 TB
    // this is embarrassingly parallel and the output is ~n/48 of the
    // token stream.
    "qx38_chunk_overlap" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .withColumn("n", size(col("toks")))
        .withColumn("nc",
          lit(1L) + greatest(lit(0L), expr("(n - 17) div 48")))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), col("nc") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("toks"), (col("chunk_id") * 48 + 1).cast("int"),
            lit(64)).as("ch"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("ch")).cast("long").as("n_chunk_toks"),
          md5(concat_ws(" ", col("ch"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // count-min-sketch heavy hitters — the bounded-memory frequency
    // sketch next to qx17's KMV distinct sketch: a 4×1024 counter grid
    // (bucket = seeded 60-bit md5 key mod 1024) built from the
    // vocabulary rollup, read back for the exact top-20 terms so the
    // one-sided error is exhibited (cms_n ≥ exact_n always; equality
    // when no collision). Deterministic md5 hashing makes the sketch —
    // not just the query — oracle-checkable, unlike any randomized CMS.
    // Scale: the term rollup is the only corpus-proportional shuffle;
    // the grid is 4096 rows at ANY corpus size (mergeable, map-side
    // partial), the top-20 is a TakeOrdered, and every join after it is
    // bounded × bounded.
    "qx39_cms_heavy_hitters" -> ((s, dir) => {
      val tf = graft.Materialize.cut(
        Tables.documents(s, dir)
          .select(explode(Text.tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("c")))
      val tb = tf.select(col("term"), col("c"),
          explode(array((0 until 4).map { i =>
            struct(lit(i).as("i"),
              (conv(substring(md5(concat(lit(s"$i:"), col("term"))),
                1, 15), 16, 10).cast("long") % 1024).as("b"))
          }: _*)).as("rb"))
        .select(col("term"), col("c"),
          col("rb.i").as("i"), col("rb.b").as("b"))
      val counters = tb.groupBy("i", "b").agg(sum(col("c")).as("cnt"))
      val top = tf.orderBy(desc("c"), col("term")).limit(20)
        .select(col("term"), col("c").as("exact_n"))
      tb.join(broadcast(top), "term")
        // BROADCAST BOUND (sketch-table): 4x1024 CMS counter grid + top-20 exact heads
        .join(broadcast(counters), Seq("i", "b"))
        .groupBy("term", "exact_n")
        .agg(min(col("cnt")).as("cms_n"))
        .orderBy(desc("exact_n"), col("term"))
    }),

    // deterministic weighted sampling (Efraimidis–Spirakis A-ES) — the
    // principled "sample long documents proportionally more" primitive
    // (weight = token count): each doc draws an exponential key
    // −ln(u)/w from an md5-derived uniform, and the k smallest keys per
    // language are exactly a weighted sample without replacement. The
    // key is quantized to integer micro-units before ranking so the two
    // engines' ln() ulp noise cannot flip an order (doc_id breaks ties).
    // Scale: narrow map + per-lang top-16 (WindowGroupLimit prunes to
    // k per partition before any sort exchange); nothing global.
    "qx40_weighted_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
        .withColumn("u",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15),
            16, 10).cast("double") + lit(1.0)) /
            lit(1.152921504606847e18))
        .withColumn("key6",
          round(-log(col("u")) / col("n_toks").cast("double") * 1e6, 0)
            .cast("long"))
      val w = Window.partitionBy("lang")
        .orderBy(col("key6"), col("doc_id"))
      d.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 16)
        .select(col("lang"), col("rank"), col("doc_id"), col("n_toks"))
        .orderBy("lang", "rank")
    }),

    // delta dedup against an existing corpus — the snapshot-ingestion
    // posture (a new dump dedups against what's already INGESTED, never
    // re-clustering the whole corpus): existing docs (src0–src9) build a
    // banded LSH index with the hot-band cap applied on the INDEX side
    // (bandedPairs discipline — one boilerplate band cannot make the
    // probe quadratic); incoming docs (src10+) probe it, and candidates
    // are refined by exact 3-gram Jaccard ≥ 0.5 over 60-bit gram keys.
    // Per incoming doc: the smallest existing doc it duplicates, or
    // is_new. At 100 TB the index is a materialized banded table and
    // each dump's probe is index-size-bounded work, not corpus².
    "qx41_delta_dedup" -> ((s, dir) => {
      val oldSrc = (0 to 9).map("src" + _)
      val base = docsWithToks(s, dir)
        .select(col("doc_id"), col("source"), col("toks"))
      val flags = Dedup.deltaDedup(
        base.where(col("source").isin(oldSrc: _*)),
        base.where(!col("source").isin(oldSrc: _*)))
      Tables.documents(s, dir)
        .where(!col("source").isin(oldSrc: _*))
        .select(col("doc_id"), col("source"))
        .join(flags.select(col("doc_id").as("new_id"), col("dup_of")),
          col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), col("source"), col("dup_of"),
          col("dup_of").isNull.as("is_new"))
        .orderBy("doc_id")
    }),

    // GPT-3-style span-duplication rate — fraction of each doc's word
    // 13-grams that also occur in at least one OTHER document (within-doc
    // repetition is qx15's job; this is the cross-doc contamination/
    // boilerplate signal train-data curation filters on). Scale shape:
    // one exploded 13-gram frame (lineage-cut, feeds both legs), a
    // distinct-doc document-frequency agg (partial aggs absorb within-doc
    // repeats map-side), a keyed shuffle join back, and a doc_id-keyed
    // count — no self-join, no pair explosion; cost is linear in corpus
    // tokens. The gram string is hashed to a 60-bit BIGINT (md5 prefix)
    // IMMEDIATELY after the explode, so every shuffle/join/checkpoint
    // carries 8-byte keys instead of ~90-char strings (first cut of this
    // query shuffled raw grams — 6× slower at sf0.1); both engines hash
    // identically, so even a collision would agree. Counts are exact
    // integers, the one double division per-row → bit-for-bit oracle.
    "qx16_span_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // stage toks as a real column BEFORE shingling: higher-order
      // functions run outside whole-stage codegen with no subexpression
      // elimination, so an inline tokens() child would re-split the text
      // for every one of the 13 element_at lookups per gram (quadratic
      // per doc — 6x the whole query's cost when first written)
      val grams = graft.Materialize.cut(docs
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), explode(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13))
          .as("h")))
      val dfreq = grams.distinct()
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
      val perDoc = grams.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("n_dup"))
      docs.select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          when(coalesce(col("n_grams"), lit(0L)) > 0,
            col("n_dup").cast("double") / col("n_grams").cast("double"))
            .otherwise(lit(0.0)).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // KMV (bottom-k) distinct-count sketch per language — the
    // deterministic, oracle-checkable stand-in for HyperLogLog distinct
    // counting (the two engines' HLLs can never agree; the k smallest
    // distinct md5s are a pure function of the set). The aggregation
    // state is BOUNDED at k=32 hashes and merges associatively — at
    // 100 TB this is a fixed-memory one-shuffle distinct estimate where
    // collect_set would OOM and count(DISTINCT) needs a full dedup
    // shuffle of every value. n_exact rides along to exhibit the error.
    // cluster-balanced (diversity-preserving) sampling — the embedding-
    // space complement of qx12's per-source stratification: every vector
    // joins its argmax-cosine IVF cell (the qe4 quantizer, same cached
    // fit), and each cell yields a deterministic quota of 8 (bottom-8 by
    // md5(vec_id) — a uniform draw both engines replay bit-identically).
    // This is how curation pipelines keep TOPICAL coverage while
    // downsampling: a uniform sample keeps duplicates of the dominant
    // mode; a per-cluster quota guarantees every region of embedding
    // space survives. Scale: assignment is a broadcast argmax (no
    // shuffle of the corpus), the quota is a WindowGroupLimit-prunable
    // per-cell top-k on a 16-key partition space, and the fit ships only
    // k×dim numbers to the driver.
    "qx46_cluster_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ca = Similarity.cellAssignments(Tables.embeddings(s, dir),
        nlist = 16, trainIters = 5,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
      val w = Window.partitionBy("cell")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      ca.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 8)
        .select(col("cell"), col("rank"), col("vec_id"))
        .orderBy("cell", "rank")
    }),

    "qx17_kmv_distinct" -> ((s, dir) => {
      val k = 32
      Tables.documents(s, dir)
        .select(col("lang"), Text.fingerprint(col("text")).as("fp"))
        .groupBy("lang")
        .agg(countDistinct(col("fp")).as("n_exact"),
          Sketch.kmv(k)(col("fp")).as("sk"))
        .select(col("lang"), col("n_exact"),
          Sketch.kmvEstimate(col("sk"), k).as("est"))
        .orderBy("lang")
    }),

    // content-defined chunking (LBFS/rsync-style CDC) — chunk boundaries
    // fall where the CONTENT says (token's 60-bit md5 key ≡ 0 mod 16,
    // ~1/16 boundary rate), so an insertion early in a doc shifts only
    // the chunk it lands in: the sub-document dedup grain fixed-stride
    // chunking (qx38) can't give. Per doc: chunk count, chunks whose
    // content recurs in ≥2 docs (cross-doc boilerplate at chunk grain),
    // dup fraction. Scale shape: boundary positions, chunk slices and
    // fingerprints are all per-row ARRAY ops (narrow map + bounded
    // explode — no token-grain shuffle, unlike a window-over-positions
    // formulation); the only shuffles are the chunk-fingerprint df agg
    // and join, both on 8-byte keys (md5-prefix longs, qx16 discipline).
    "qx42_cdc_chunks" -> ((s, dir) => {
      val chk = graft.Materialize.cut(
        Dedup.cdcChunks(
          Tables.documents(s, dir)
            .withColumn("toks", Text.tokens(col("text"))))
          .select("doc_id", "k"))
      val dfre = chk.select("doc_id", "k").distinct()
        .groupBy("k").agg(count(lit(1)).as("n_docs"))
      chk.join(dfre, "k")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("n_dup_chunks"))
        .withColumn("dup_frac",
          col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
        .orderBy("doc_id")
    }),

    // winnowing document fingerprints (Schleimer et al., the MOSS
    // algorithm) — the guaranteed-coverage sampling qx9's bottom-k
    // can't give: every w=4 consecutive 3-gram hashes contribute their
    // minimum, so any shared run of ≥ w+2 tokens is CERTAIN to share a
    // fingerprint (bottom-k shares only probabilistically). The
    // fingerprint SET per doc = distinct window minima — set semantics
    // make the tie-break question vanish, so both engines agree exactly.
    // Scale: window minima are per-row array ops over the native 60-bit
    // gram-hash kernel (narrow); the df agg + join shuffle 8-byte keys.
    "qx43_winnow_fingerprint" -> ((s, dir) => {
      val w = 4
      val fps = Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 3).as("hs"))
        .withColumn("fps", Text.winnowFps(col("hs"), w))
      val fpx = graft.Materialize.cut(
        fps.select(col("doc_id"), explode(col("fps")).as("v")))
      val dfre = fpx.groupBy("v").agg(count(lit(1)).as("n_docs"))
      fpx.join(dfre, "v")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("n_docs") >= 2, lit(1L)).otherwise(lit(0L)))
            .as("n_shared"))
        .withColumn("share_frac",
          col("n_shared").cast("double") / col("n_fp").cast("double"))
        .orderBy("doc_id")
    }),

    // per-source distribution shift — KL(source ‖ corpus) over the
    // qx35 hashed feature space (unigram 60-bit keys mod 4096): the
    // "did this crawl/source drift from the mixture" monitor every
    // ingestion pipeline runs. Exact-integer discipline: the one double
    // computation (p·ln(p/q), add-0.5 smoothing) happens per (source,
    // bucket) and is rounded to nano-nat BIGINTs; the per-source KL is
    // then a plain commutative integer SUM — map-side partial, no float
    // accumulation order to disagree on. Scale: the (source, bucket)
    // fact is the only corpus-proportional agg; everything after is
    // ≤ |sources| × 4096 rows, and the corpus marginals derive from the
    // fact by re-aggregation (one tokenize pass, qx35 discipline).
    "qx44_kl_divergence" -> ((s, dir) => {
      val B = 4096
      val fact = graft.Materialize.cut(
        Tables.documents(s, dir)
          .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
          .select(col("source"),
            (conv(substring(md5(col("term")), 1, 15), 16, 10)
              .cast("long") % B).as("b"))
          .groupBy("source", "b").agg(count(lit(1)).as("k")))
      graft.ext.Models.klPerSource(fact, B).orderBy("source")
    }),

    // Bloom-filter decontamination — the MEMBERSHIP sketch completing
    // the family (qx17 KMV = distinct, qx39 CMS = frequency): the
    // benchmark's 3-gram set becomes an 8192-slot / 3-hash bit set
    // (deterministic seeded-md5 positions, so the sketch itself is
    // oracle-checkable), and every corpus doc's grams probe it. n_bloom
    // ≥ n_exact always (one-sided error, exhibited next to qx13's exact
    // inverted index). Scale shape: each gram is md5'd ONCE to its
    // 60-bit key, and the three bit positions derive from that key by
    // Kirsch–Mitzenmacher double hashing (p_i = (h1 + i·(2·h2+1)) mod m
    // — pure integer math both engines share; the first cut shuffled
    // raw gram strings through a ×3 explode, 16× shuffle growth on the
    // 10× probe, and a seeded-md5-per-position rewrite tripled the
    // narrow-pass compute instead). Membership is three successive
    // broadcast SEMI joins against the ≤ 8192-row per-seed position
    // sets — the corpus gram stream never shuffles for the test; the
    // only exchanges are doc_id-keyed counts. The exact leg joins
    // 60-bit gram keys (qx16 discipline — both engines hash
    // identically, so even a collision agrees).
    "qx45_bloom_decontam" -> ((s, dir) => {
      val m = 8192
      // h1 = low 13 bits, h2 = next 13 bits (m = 2^13, so % and >> are
      // exact long ops — never a double division near 2^60)
      def pos(i: Int,
          gk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (gk % m + lit(i.toLong) * (shiftright(gk, 13) % m * 2 + 1)) % m
      // gram identity = the fused 60-bit shingle-hash kernel over the
      // token bytes; per-doc distinct runs over LONGS (hash-then-
      // distinct, mirrored in the twin so even a collision agrees) —
      // no gram string, hex string, or string parse anywhere
      val toks = docsWithToks(s, dir)
      def gramKeys(df: org.apache.spark.sql.DataFrame) = df.select(
        col("doc_id"),
        explode(array_distinct(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 3)))
          .as("gk"))
      val benchKeys = gramKeys(toks.where(col("doc_id") % 97 === 0))
        .select("gk").distinct()
      def bitsFor(i: Int) =
        benchKeys.select(pos(i, col("gk")).as(s"p$i")).distinct()
      val corp = graft.Materialize.cut(
        gramKeys(toks.where(col("doc_id") % 97 =!= 0))
          .select(col("doc_id"), col("gk"),
            pos(0, col("gk")).as("p0"), pos(1, col("gk")).as("p1"),
            pos(2, col("gk")).as("p2")))
      val bloomHits = corp
        // BROADCAST BOUND (sketch-table): distinct bloom bit positions <= filter width; benchKeys is the fixed eval-suite surrogate
        .join(broadcast(bitsFor(0)), Seq("p0"), "left_semi")
        .join(broadcast(bitsFor(1)), Seq("p1"), "left_semi")
        .join(broadcast(bitsFor(2)), Seq("p2"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_bloom"))
      val exactHits = corp
        // BROADCAST BOUND (benchmark-set): distinct grams of the fixed eval-suite surrogate
        .join(broadcast(benchKeys), Seq("gk"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
      corp.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(bloomHits, Seq("doc_id"), "left")
        .join(exactHits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .withColumn("flagged_bloom", col("n_bloom") >= 1)
        .withColumn("flagged_exact", col("n_exact") >= 1)
        .orderBy("doc_id")
    }),

    // train/val/test SPLIT ASSIGNMENT + cross-split leakage audit — the
    // bookkeeping every training run needs before it starts: a
    // DETERMINISTIC hash split (md5(doc_id) → u ∈ [0,1), 80/10/10 —
    // reproducible across runs/engines, no RNG state, same coin as
    // qx12/qx22), then an audit for eval contamination ACROSS splits:
    // a content fingerprint (minhash h0 over 3-gram shingles — the qx2
    // signature's first component, so near-dups collide, not just
    // byte-identical copies) seen in ≥ 2 distinct splits marks all its
    // docs leaked. Output: per (source, split) doc counts + leaked
    // counts. Scale shape: split assign + fingerprint are one narrow
    // native pass; the audit is an fp-keyed count-distinct agg (≤ one
    // row per distinct content) + semi join back; the rollup is a
    // bounded-key (sources × 3) agg. Docs under 3 tokens carry a null
    // fingerprint: counted in n_docs, exempt from the audit (both
    // engines agree on the exemption).
    "qx48_split_leakage" -> ((s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0)
      val sp = graft.Materialize.cut(
        Tables.documents(s, dir)
          .withColumn("toks", Text.tokens(col("text")))
          .select(col("doc_id"), col("source"),
            when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
              .as("split"),
            when(size(col("toks")) >= 3,
              element_at(Text.lshBandsFromToks(col("toks"), bands = 1), 1))
              .as("fp")))
      val leaked = sp.where(col("fp").isNotNull)
        .groupBy("fp").agg(count_distinct(col("split")).as("nsp"))
        .where(col("nsp") >= 2).select("fp")
      val leakedDocs = sp.where(col("fp").isNotNull)
        .join(leaked, Seq("fp"), "left_semi")
        .groupBy("source", "split").agg(count(lit(1)).as("n_leaked"))
      sp.groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .join(leakedDocs, Seq("source", "split"), "left")
        .select(col("source"), col("split"), col("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .orderBy("source", "split")
    }),

    // tokenizer VOCABULARY COVERAGE — fit a top-V vocabulary by corpus
    // frequency (V = 25; deterministic tie-break on the token itself)
    // and report each source's out-of-vocabulary token rate: the
    // coverage / fertility signal that decides whether a tokenizer (or
    // a frequency-truncated embedding table) fits a corpus slice, and
    // the standard pre-flight before committing a vocab size. Scale
    // shape: ONE tokenize + explode feeds a (source, term) count with
    // map-side combine (the only corpus-sized shuffle, term-keyed);
    // the corpus frequency table derives from that same aggregate
    // (vocabulary-sized, not corpus-sized), the top-V fit is a
    // TakeOrdered over it (V rows to the driver's plan, never data
    // rows), and membership is a broadcast left join. OOV rate is a
    // single double division — bit-stable cross-engine.
    "qx49_vocab_coverage" -> ((s, dir) => {
      val V = 25
      val st = graft.Materialize.cut(
        Tables.documents(s, dir)
          .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
          .groupBy("source", "term").agg(count(lit(1)).as("n")))
      val vocab = st.groupBy("term").agg(sum("n").as("cf"))
        .orderBy(desc("cf"), col("term")).limit(V)
        .select(col("term"), lit(true).as("in_vocab"))
      st.join(broadcast(vocab), Seq("term"), "left")
        .groupBy("source").agg(
          sum("n").as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("n")).otherwise(lit(0L)))
            .as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy("source")
    }),

    // sqrt-TEMPERATURE mixture weights — the standard multilingual /
    // multi-source sampling-rate computation (α = 0.5 temperature:
    // p_i = c_i^α / Σ c_j^α), which upsamples small sources and
    // downsamples huge ones less brutally than qx22's uniform
    // rebalance. α is pinned at 0.5 because sqrt is IEEE-exact in both
    // engines — an arbitrary pow(c, 0.7) is transcendental and not
    // bit-portable. The denominator Σ√c_j is the ONE cross-row float
    // sum, folded left-to-right over source-SORTED weights (qx20
    // discipline) so both engines add in the same order; everything
    // downstream is a chain of single double ops on identical inputs.
    // Scale shape: per-source token totals (bounded-key agg with
    // map-side combine), a one-row broadcast of (Σc, Σ√c), and a
    // narrow projection — nothing corpus-sized ever shuffles twice.
    "qx50_mixture_temperature" -> ((s, dir) => {
      val perSrc = Tables.documents(s, dir)
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("source").agg(sum("n_toks").as("src_tokens"))
        .withColumn("w", sqrt(col("src_tokens").cast("double")))
      val tot = perSrc.agg(
        sum("src_tokens").as("b"),
        aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("z"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("src_tokens"),
          (col("w") / col("z")).as("p"),
          (col("w") / col("z") * col("b").cast("double"))
            .as("expected_tokens"),
          (col("w") / col("z") * col("b").cast("double") /
            col("src_tokens").cast("double")).as("boost"))
        .orderBy("source")
    }),

    // per-label embedding CENTROID QUALITY — the cluster-cohesion audit
    // for a labeled (or pseudo-labeled) embedding table: per label, the
    // member count, the mean cosine of members to their own label's
    // centroid, and the worst member (min cosine — outlier signal).
    // Low cohesion flags label noise / collapsed embeddings before they
    // poison contrastive training or ANN ground truth. Float
    // discipline: centroid components are round-9 per-dimension MEANS
    // (absorbs cross-row sum-order ulps; both engines then hold
    // bit-identical centroids), each member cosine is the same
    // left-to-right fold both engines share, and the MEAN cosine runs
    // through exact integer milli-arithmetic (floor(cos·1e9) summed as
    // BIGINT, one final division — qs3 discipline) so no cross-row
    // float accumulation exists anywhere. min_cos is an exact min of
    // identical doubles. Scale shape: posexplode to (label, dim) rows
    // with MAP-SIDE COMBINE — the shuffle carries ≤ partitions × labels
    // × dim pre-aggregated rows, not n × dim; centroids (labels × dim)
    // broadcast back over one corpus scan.
    "qe14_label_centroids" -> ((s, dir) => {
      val cent = labelCentroids(s, dir)
      val mem = Tables.embeddings(s, dir)
        // BROADCAST BOUND (fit-state): labels x dim centroid frame
        .join(broadcast(cent), Seq("label"))
        .select(col("label"), ccos(col("embedding"), col("cvec")).as("cos"))
      mem.groupBy("label").agg(
          count(lit(1)).as("n_vecs"),
          sum(floor(col("cos") * lit(1e9)).cast("long")).as("milli"),
          min(col("cos")).as("min_cos"))
        .select(col("label"), col("n_vecs"),
          (col("milli").cast("double") / col("n_vecs").cast("double") /
            lit(1e9)).as("mean_cos"),
          col("min_cos"))
        .orderBy("label")
    }),

    // tokenizer FERTILITY per (source, lang) — bytes per whitespace
    // token, the first number a tokenization plan needs per language
    // (CJK text runs ~3 bytes/char with few spaces; a byte-budgeted
    // training mix must convert corpus bytes → expected tokens per
    // slice). Exact BIGINT totals, one double division at the end —
    // bit-stable. Scale shape: one narrow map (size + octet_length),
    // one bounded-key agg with map-side combine; nothing else.
    "qx51_fertility" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("total_toks"),
          sum("n_bytes").as("total_bytes"))
        .select(col("source"), col("lang"), col("n_docs"),
          col("total_toks"), col("total_bytes"),
          (col("total_bytes").cast("double") /
            col("total_toks").cast("double")).as("bytes_per_tok"))
        .orderBy("source", "lang")),

    // bigram COLLOCATIONS by chi-square — the log-free counterpart of
    // qx29's PMI (Dunning-style association strength from the 2×2
    // contingency table; chi² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d))).
    // Everything is integer counts; the score is a fixed-shape double
    // polynomial (products up to ~N⁴ round identically in IEEE as long
    // as both engines share the operation ORDER, which the twin spells
    // identically) — no transcendental, no rounding step needed. Scale
    // shape: the bigram count frame is the only corpus-sized pass; the
    // margin tables are vocabulary²-keyed rollups of it; top-50 via a
    // single WindowGroupLimit-prunable rank.
    "qx53_chi2_colloc" -> ((s, dir) => {
      // margins (cx, cy, N) come from the FULL bigram table — the
      // Dunning 2×2 contingency needs true marginal totals; the a>=5
      // support filter applies only to which candidate rows are EMITTED
      // (pruning margins too would bias every score toward the kept set)
      val bi = graft.Materialize.cut(docsWithToks(s, dir)
        .select(explode(Text.shingles(col("toks"), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("x"),
          split(col("bg"), " ").getItem(1).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("a")))
      val cx = bi.groupBy("x").agg(sum("a").as("cx"))
      val cy = bi.groupBy("y").agg(sum("a").as("cy"))
      val n = bi.agg(sum("a").as("n"))
      val aD = col("a").cast("double")
      val cxD = col("cx").cast("double")
      val cyD = col("cy").cast("double")
      val nD = col("n").cast("double")
      val det = aD * (nD - cxD - cyD + aD) - (cxD - aD) * (cyD - aD)
      bi.where(col("a") >= 5)
        .join(cx, "x").join(cy, "y").crossJoin(broadcast(n))
        .select(concat_ws(" ", col("x"), col("y")).as("bg"), col("a"),
          (nD * det * det /
            (cxD * (nD - cxD) * cyD * (nD - cyD))).as("chi2"))
        .orderBy(desc("chi2"), col("bg"))
        .limit(50)
    }),

    // near-dup GRAPH degree histogram — the one-line health check on the
    // dedup graph before clustering: a heavy tail (many high-degree
    // docs) means boilerplate is flooding the bands and the cap/shingle
    // parameters need retuning; mass at degree 0 is the genuinely unique
    // corpus. Pairs come from the PRODUCTION capped band join
    // (Dedup.bandedPairs), so the histogram describes exactly the graph
    // qx11 clusters. Scale shape: pair list → doc-keyed degree rollup →
    // bounded-key histogram; docs too short to band count as degree 0
    // via the left join.
    "qx55_dupgraph_degree" -> ((s, dir) => {
      val sig = graft.Materialize.cut(
        docsWithToks(s, dir).select(col("doc_id"),
          explode(Text.lshBandsFromToks(col("toks"), bands = 4)).as("band")))
      val pairs = Dedup.bandedPairs(sig)
      val deg = pairs.select(col("d1").as("doc_id"))
        .union(pairs.select(col("d2").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      Tables.documents(s, dir).select("doc_id")
        .join(deg, Seq("doc_id"), "left")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // minhash SKETCH-ERROR audit — per production candidate pair, the
    // 16-hash minhash Jaccard estimate next to the exact distinct-3-gram
    // Jaccard, with the absolute error: the accuracy report that decides
    // whether a signature width is safe to cut (run on a bounded sample
    // at 100 TB; candidates here are the capped band join's, so the pair
    // set is the production one). One kernel pass emits all 16 minhashes
    // AND the band keys (the first 4 hashes), so the audit costs one
    // extra projection over the dedup path it audits. est and exact are
    // single double divisions of small integers — bit-stable.
    "qx54_sketch_error" -> ((s, dir) => {
      val base = graft.Materialize.cut(docsWithToks(s, dir)
        .select(col("doc_id"),
          Text.lshBandsFromToks(col("toks"), bands = 16).as("mh"),
          array_distinct(graft.meos.NativeExpressions
            .shingleHashes(col("toks"), 3)).as("shd")))
      // pairs from the shared per-dir staged band-join fact (round 17) —
      // slice(mh16, 1, 4) bands are value-identical to bands=4 (the
      // position-prefixed kernel property), so this IS the same pair set
      val pairs = stagedBandedPairs(s, dir)
      val est = (aggregate(
        zip_with(col("mh1"), col("mh2"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(16.0)).as("est_ji")
      val ni = size(array_intersect(col("shd1"), col("shd2"))).cast("double")
      val exact = (ni /
        ((size(col("shd1")) + size(col("shd2"))).cast("double") - ni))
        .as("exact_ji")
      // plain equi-joins, and the est/exact projection directly on top:
      // AQE broadcasts whichever side is small (at the 10× probe: the
      // pair list into join 1, the ~50 MB base frame into join 2), the
      // array-bearing pair-grain rows live only INSIDE the pipelined
      // join stages, and the one real exchange is the final
      // rangepartition of (d1, d2, est, exact, err) — the output's own
      // grain. Probed alternatives both lost: forcing broadcast on the
      // pair-derived ARRAY-bearing frame OOMs the driver, and two
      // pair-grain sides joined on (d1, d2) shuffle pairs × ~1 KB (the
      // 10× probe holds 1.9M candidate pairs — 1.9 GB written vs 54 MB
      // for this spelling).
      pairs
        .join(base.select(col("doc_id").as("d1"), col("mh").as("mh1"),
          col("shd").as("shd1")), Seq("d1"))
        .join(base.select(col("doc_id").as("d2"), col("mh").as("mh2"),
          col("shd").as("shd2")), Seq("d2"))
        .select(col("d1"), col("d2"), est, exact)
        .withColumn("abs_err", abs(col("est_ji") - col("exact_ji")))
        .orderBy("d1", "d2")
    }),

    // mergeable KMV UNION across sources — the sketch-composition
    // property that makes bounded-state distinct counting work on a
    // partitioned 100 TB corpus: per-source bottom-32 vocabulary
    // sketches merge (union → keep 32 smallest) into the corpus-wide
    // estimate WITHOUT rescanning any source. Emits one row per source
    // (estimate + exact for audit) plus the '__union__' row computed
    // ONLY from the per-source sketches; the oracle recomputes the same
    // deterministic bottom-k in SQL, proving merge == direct. Scale
    // shape: sketch state is 32 strings per source; the merge input is
    // sources × 32 rows — driver-free, shuffle-free in practice.
    "qx52_union_sketch" -> ((s, dir) => {
      val k = 32
      val h = Tables.documents(s, dir)
        .select(col("source"), explode(Text.tokens(col("text"))).as("t"))
        .select(col("source"), md5(col("t")).as("h"))
      val per = graft.Materialize.cut(h.groupBy("source")
        .agg(Sketch.kmvSet(k)(col("h")).as("sk"),
          count_distinct(col("h")).as("exact")))
      def estOf(hs: org.apache.spark.sql.Column) =
        Sketch.kmvEstimate(struct(
          size(hs).cast("long").as("n"),
          when(size(hs) === k, element_at(hs, k)).as("kth")), k)
      val perOut = per.select(col("source"),
        estOf(col("sk.hs")).as("kmv_est"), col("exact"))
      // grouped on a constant, not a global agg: the suite-wide contract
      // is empty input → empty output, and a groupBy-less agg emits its
      // one zero-row even over nothing
      val union = per.select(explode(col("sk.hs")).as("h"))
        .groupBy(lit(1).as("g"))
        .agg(Sketch.kmv(k)(col("h")).as("sk2"))
        .crossJoin(broadcast(
          h.agg(count_distinct(col("h")).as("exact"))))
        .select(lit("__union__").as("source"),
          Sketch.kmvEstimate(col("sk2"), k).as("kmv_est"), col("exact"))
      perOut.unionByName(union).orderBy("source")
    }),

    // media-asset exact dedup — the multimodal counterpart of qx1: crawl
    // archives carry the same image/video payload under thousands of
    // URLs, and byte-identical dedup (content hash over the OPAQUE
    // binary column, no decode) is the first and cheapest curation pass.
    // Reports the storage the dedup reclaims. Scale shape: one hash per
    // blob computed in the scan projection, one hash-keyed agg — the
    // blob bytes themselves never shuffle.
    "qm3_blob_dedup" -> ((s, dir) =>
      Multimodal.synthMedia(s, dir)
        .groupBy(md5(col("bytes")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"),
          min(col("meta.nbytes")).as("nbytes"))
        .select(col("fp"), col("n_copies"), col("keeper"), col("nbytes"),
          ((col("n_copies") - 1) * col("nbytes")).as("wasted_bytes"))
        .orderBy("fp")),

    // cross-asset FRAME dedup — the multimodal step past qm3's
    // whole-blob hashing: "video" payloads share SCENES (intro bumpers,
    // stock b-roll) without being byte-identical as wholes, so dedup at
    // the sampled-frame grain: qm2's frame sampling, a frame-key
    // rollup, and only keys seen in ≥ 2 distinct docs survive. The key
    // is the frame's HEX (16 bytes → 32 chars, the same width as an md5
    // hex) rather than a hash: DuckDB 1.0 has no md5(BLOB), but
    // substr(hex(encode(text)), i*128+1, 32) is the hex of byte slice
    // [i*64, i*64+16) for ARBITRARY bytes — so the twin is byte-exact
    // even on multi-byte UTF-8 (CJK) corpora, where a char-based
    // substr/md5 twin would drift. Scale shape: frames are fixed-size
    // substrings computed in the scan projection (blob bytes never
    // shuffle), the rollup is one key-keyed agg with map-side combine.
    "qm4_frame_dedup" -> ((s, dir) =>
      Multimodal.synthMedia(s, dir)
        .select(col("doc_id"), posexplode(
          Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4)))
        .toDF("doc_id", "frame_no", "frame")
        .groupBy(hex(col("frame")).as("frame_hex"))
        .agg(count(lit(1)).as("n_occ"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keeper"))
        .where(col("n_docs") >= 2)
        .orderBy("frame_hex")),

    // per-source LENGTH-DISTRIBUTION drift — the Kolmogorov–Smirnov
    // statistic of each source's doc-length ECDF against the corpus
    // ECDF: the standard "did this crawl snapshot change shape" monitor
    // next to qx44's content-space KL. Exact formulation: the KS max is
    // attained at a jump point, so evaluating |ECDF_src − ECDF_all| at
    // every DISTINCT corpus length is exact, not an approximation.
    // Integer cumulative counts, two double divisions per grid point, an
    // abs and a max — deterministic cross-engine. Scale shape: the grid
    // is |sources| × |distinct lengths| (bounded-domain measure — the
    // qx18 argument), never doc-grain; one window per source.
    "qx56_ks_drift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val h = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val g = docs.groupBy("n_chars").agg(count(lit(1)).as("ca"))
      val nSrc = docs.groupBy("source").agg(count(lit(1)).as("ns"))
      val nAll = docs.agg(count(lit(1)).as("na"))
      // GLOBAL-WINDOW BOUND (distinct-value): distinct doc lengths only
      val wAll = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gc = g.withColumn("cum_all", sum("ca").over(wAll))
      val wSrc = Window.partitionBy("source").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nSrc.crossJoin(gc.select("n_chars", "cum_all"))
        .join(h, Seq("source", "n_chars"), "left")
        .withColumn("cum_src",
          sum(coalesce(col("c"), lit(0L))).over(wSrc))
        .crossJoin(broadcast(nAll))
        .groupBy("source", "ns")
        .agg(max(abs(
          col("cum_src").cast("double") / col("ns").cast("double") -
            col("cum_all").cast("double") / col("na").cast("double")))
          .as("ks"))
        .select(col("source"), col("ns").as("n_docs"), col("ks"))
        .orderBy("source")
    }),

    // dedup THRESHOLD SWEEP — how much of the corpus each Jaccard
    // cutoff would remove: duplicate-pair and affected-doc counts at
    // 0.5 / 0.6 / 0.7 / 0.8, all from ONE cappedGramOverlap pass (the
    // qx33 engine) — the report that picks a threshold before running
    // the expensive clustering, instead of re-running dedup per
    // candidate setting. Conditional aggregation over the pair frame;
    // no extra scan, no extra shuffle beyond qx33's own.
    "qx57_threshold_sweep" -> ((s, dir) => {
      val ji = stagedGramOverlap(s, dir)
        .select(col("d1"), col("d2"),
          (col("ni") / (col("na") + col("nb") - col("ni"))).as("ji"))
      val ts = Seq(0.5, 0.6, 0.7, 0.8)
      ji.select(explode(array(ts.map(lit): _*)).as("threshold"),
          col("d1"), col("d2"), col("ji"))
        .where(col("ji") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("d2")).as("n_docs_removable"))
        .orderBy("threshold")
    }),

    // context-PACKING WASTE — for candidate context lengths 512/1024/
    // 2048: what fraction of token mass a naive one-doc-per-example
    // layout wastes as padding (docs shorter than the context) or drops
    // as truncation (tokens past it) — the numbers that justify qx37's
    // concat-and-cut packing. Integer token arithmetic per doc, one
    // bounded-key agg; the one division is exact-integer-to-double.
    "qx58_packing_waste" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(size(Text.tokens(col("text"))).cast("long").as("n"))
      val ls = Seq(512L, 1024L, 2048L)
      docs.select(explode(array(ls.map(lit): _*)).as("ctx_len"), col("n"))
        .select(col("ctx_len"),
          col("n"),
          least(col("n"), col("ctx_len")).as("kept"),
          when(col("n") < col("ctx_len"), col("ctx_len") - col("n"))
            .otherwise(lit(0L)).as("pad"),
          when(col("n") > col("ctx_len"), col("n") - col("ctx_len"))
            .otherwise(lit(0L)).as("trunc"))
        .groupBy("ctx_len")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("total_toks"),
          sum("kept").as("kept_toks"), sum("pad").as("pad_toks"),
          sum("trunc").as("trunc_toks"))
        .select(col("ctx_len"), col("n_docs"), col("total_toks"),
          col("kept_toks"), col("pad_toks"), col("trunc_toks"),
          (col("pad_toks").cast("double") /
            (col("kept_toks") + col("pad_toks")).cast("double"))
            .as("pad_frac"))
        .orderBy("ctx_len")
    }),

    // embedding ANISOTROPY audit — the collapse/cone-effect health
    // check run before trusting any cosine-based pipeline (an
    // anisotropic space scores everything similar and ANN/dedup
    // thresholds stop meaning anything). The expensive quantity — the
    // ALL-PAIRS mean cosine — falls to ONE corpus pass via the exact
    // identity Σ_{i≠j} v̂_i·v̂_j = ‖Σv̂‖² − n, so the O(n²) metric costs
    // O(n·d): per-dimension sums of the normalized vectors, then one
    // norm². Float discipline: each v̂ component and each per-row norm
    // quantizes to exact nano-unit BIGINTs (floor(x·1e9) — the qs3/qe14
    // integer-sum rule), so every cross-row sum is exact integer math
    // and the two final double expressions are bit-stable cross-engine.
    "qe18_anisotropy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nrm = sqrt(Similarity.dotComposed(col("embedding"),
        col("embedding")))
      val d = emb.select(col("vec_id"), nrm.as("nrm"),
        posexplode(col("embedding")))
        .select(col("vec_id"), col("nrm"), col("pos"),
          (col("col").cast("double") / col("nrm")).as("vhat"))
      // per-dimension exact integer sums of quantized components
      val sums = d.groupBy("pos")
        .agg(sum(floor(col("vhat") * lit(1e9)).cast("long")).as("s_nn"))
      val s2 = sums.agg(
        aggregate(array_sort(collect_list(struct(col("pos"), col("s_nn")))),
          lit(0.0), (acc, x) =>
            acc + (x.getField("s_nn").cast("double") / lit(1e9)) *
              (x.getField("s_nn").cast("double") / lit(1e9)))
          .as("s2"))
      // constant-key group, not a global agg: empty corpus → empty
      // output (the suite-wide contract)
      val normStats = emb.select(col("vec_id"), nrm.as("nrm"))
        .groupBy(lit(1).as("g"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(floor(col("nrm") * lit(1e9)).cast("long")).as("norm_nn"))
        .drop("g")
      normStats.crossJoin(broadcast(s2))
        .select(col("n_vecs"),
          (col("norm_nn").cast("double") / col("n_vecs").cast("double") /
            lit(1e9)).as("mean_norm"),
          ((col("s2") - col("n_vecs").cast("double")) /
            (col("n_vecs").cast("double") *
              (col("n_vecs").cast("double") - lit(1.0))))
            .as("mean_pairwise_cos"))
    }),

    // IVF CELL-BALANCE audit — the observability hook for the
    // nlist-sizing rule qz1/qe11 document: per-cell occupancy of the
    // shared coarse quantizer, each cell's share of the corpus, and its
    // within-cell pair work n·(n−1)/2 — the EXACT cost predictor for
    // semDedup's self-join (Σ work_pairs quadratic in the hottest cell
    // is the signal to raise nlist or trust the qz1 cap). Integer
    // counts and per-row arithmetic only. Scale shape: one broadcast
    // centroid scan + one 16-key agg — runs on the same fit cache as
    // qe4, so auditing costs no second k-means
    "qe19_cell_balance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cellAssignments(emb, nlist = 16,
        cacheKey = Some(s"$dir|nlist=16|iters=5"))
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(
          emb.agg(count(lit(1)).as("nt"))))
        .select(col("cell"), col("n"),
          (col("n").cast("double") / col("nt").cast("double")).as("frac"),
          // integer DIV, not `/`: Column `/` is double division, and
          // n·(n−1) exceeds double's 2^53 integer range at n ~ 1e9
          expr("n * (n - 1) DIV 2").as("work_pairs"))
        .orderBy("cell")
    }),

    // SIMHASH near-dup PAIRS — the Manku/Jarvelin web-dedup shape qx4's
    // per-doc fingerprint feeds: split the 32-bit simhash into 4 8-bit
    // bands; by pigeonhole, any pair within hamming distance 3 shares
    // at least one band verbatim, so the band equi-join (with the same
    // hot-band cap discipline as minhash LSH) enumerates a candidate
    // superset and the per-pair hamming refine keeps d ≤ 3. Candidates
    // ∝ band collisions, never corpus²; the refine compares two 32-char
    // bit strings position-wise — integer arithmetic end-to-end.
    "qx61_simhash_pairs" -> ((s, dir) =>
      simhashPairs(s, dir).orderBy("d1", "d2")),

    // the TRAINING-MIX MANIFEST — the second composed [EXT] pipeline
    // (qp1 curates; this one decides what a training job actually
    // consumes): sqrt-temperature mixture weights (qx50) → per-source
    // keep rate capped at 1 → deterministic md5-coin sampling (qx12) →
    // packed-example accounting at a 1024-token context (qx37's
    // arithmetic). One declarative plan: per source, the doc/token
    // totals, sampling rate, what survived the coin, and how many
    // packed examples that yields. Float discipline: the one cross-row
    // float fold (Σ√c) is source-sorted (qx50); the coin compares
    // exact-integer-derived doubles (qx12); everything else is integer.
    "qp2_training_mix" -> ((s, dir) => {
      val perDocTok = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      val perSrc = perDocTok.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("src_tokens"))
        .withColumn("w", sqrt(col("src_tokens").cast("double")))
      val tot = perSrc.agg(
        sum("src_tokens").as("b"),
        aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
          lit(0.0), (acc, x) => acc + x.getField("w")).as("z"))
      val rates = perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("src_tokens"),
          (col("w") / col("z")).as("p"),
          least(lit(1.0),
            col("w") / col("z") * col("b").cast("double") /
              col("src_tokens").cast("double")).as("keep_rate"))
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0)
      val sampled = perDocTok.withColumn("u", u)
        .join(broadcast(rates.select("source", "keep_rate")), Seq("source"))
        .where(col("u") < col("keep_rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_sampled"),
          sum("n_toks").as("sampled_tokens"))
      rates.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("src_tokens"), col("p"),
          col("keep_rate"),
          coalesce(col("n_docs_sampled"), lit(0L)).as("n_docs_sampled"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"),
          expr("(coalesce(sampled_tokens, 0) + 1023) div 1024")
            .as("n_examples_1k"))
        .orderBy("source")
    }),

    // LSH BAND-COUNT sweep — candidate precision/recall at 2/4/8 bands
    // against the exact (capped-gram) Jaccard ≥ 0.5 truth set: the
    // third member of the tuning-report family (qx57 picks the
    // threshold, qe17 picks nprobe, this picks the signature width —
    // more bands = more candidates = higher recall, lower precision,
    // more join work). One 16-hash kernel pass serves every setting;
    // candidates come through the production capped band join. Counts
    // are integers; the two divisions are exact-integer-to-double.
    "qx59_band_sweep" -> ((s, dir) => {
      // ROUND-16 FUSE (results identical): band values are
      // position-PREFIXED ("$b:" in MinhashShingleBandsExpr), so (a) a
      // band's corpus count is the same whichever slice it appears in —
      // the per-band hot cap is leg-independent — and (b) the b=8 pair
      // set is a superset of b=4 ⊇ b=2 (slice nesting). ONE pair pass
      // carrying the MIN collide position therefore classifies every
      // pair for every band setting; the three bandedPairs legs (each a
      // self-join + distinct) collapse into one. The kernel also now
      // computes only the 8 bands the sweep reads — positions 0–7 of a
      // bands=16 array are value-identical to a bands=8 array.
      val mh = graft.Materialize.cut(docsWithToks(s, dir)
        .select(col("doc_id"),
          Text.lshBandsFromToks(col("toks"), bands = 8).as("mh")))
      val truth = graft.Materialize.cut(stagedGramOverlap(s, dir)
        .where(col("ni") / (col("na") + col("nb") - col("ni")) >= 0.5)
        .select(col("d1"), col("d2"), lit(1L).as("hit")))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val sig = mh.select(col("doc_id"),
        posexplode(col("mh")).as(Seq("pos", "band")))
      // the bandedPairs hot-band anti-join, verbatim (same cap)
      val side = sig.join(
        sig.groupBy("band").agg(count(lit(1)).as("n"))
          .where(col("n") > Dedup.DefaultBandCap).drop("n"),
        Seq("band"), "left_anti")
      // shared band ⇒ shared position (prefix), so min(p1) IS the min
      // collide position; distinct-pair grain via the groupBy
      val pairs = graft.Materialize.cut(
        side.select(col("doc_id").as("d1"), col("band"),
            col("pos").as("p1"))
          .join(side.select(col("doc_id").as("d2"), col("band")),
            Seq("band"))
          .where(col("d1") < col("d2"))
          .groupBy("d1", "d2").agg(min("p1").as("mp"))
          .join(truth, Seq("d1", "d2"), "left"))
      Seq(2, 4, 8).map { b =>
        // grouped on the constant band count, not a global agg: a band
        // setting with zero candidates (and the empty corpus) emits no
        // row — the twin's HAVING count(*) > 0 states the same contract
        pairs.where(col("mp") < b)
          .groupBy(lit(b.toLong).as("bands"))
          .agg(count(lit(1)).as("n_cand"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(nTruth))
        .select(col("bands"), col("n_cand"), col("n_hits"),
          col("n_truth"),
          (col("n_hits").cast("double") / col("n_cand").cast("double"))
            .as("precision"),
          // guarded: the truth set CAN be empty (the 10× probe's 31-word
          // vocabulary pushes every gram over the hot-gram cap, zeroing
          // exact overlaps) — recall is undefined there, not an ANSI
          // divide-by-zero crash; n_cand ≥ 1 by the grouping contract
          when(col("n_truth") > 0,
            col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
        .orderBy("bands")
    }),

    // HEAPS-LAW sample-size curve — vocabulary and distinct-3-gram-type
    // growth at deterministic 10/25/50/100% corpus samples: the "is
    // more data still adding types" report that sizes a crawl before
    // committing the compute (the corpus-level complement of qx31's
    // per-doc novelty). The sample decision is qx12's md5-bucket coin
    // (u is an exact ≤ 2³²-magnitude integer in a double; ×100 stays
    // exact under 2⁵³, so the comparison is bit-stable cross-engine).
    // One tokenize pass; conditional distinct aggregation per fraction.
    "qx60_heaps_curve" -> ((s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long").cast("double") / lit(4294967296.0)
      val pcts = array(Seq(10L, 25L, 50L, 100L).map(lit): _*)
      val base = docsWithToks(s, dir)
        .select(col("doc_id"), (u * 100).as("u100"), col("toks"))
      val perDoc = base
        .select(explode(pcts).as("pct"), col("u100"),
          size(col("toks")).cast("long").as("n"))
        .where(col("u100") < col("pct"))
        .groupBy("pct")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"))
      val types = base
        .select(col("u100"), explode(col("toks")).as("term"))
        .select(explode(pcts).as("pct"), col("u100"), col("term"))
        .where(col("u100") < col("pct"))
        .groupBy("pct")
        .agg(count_distinct(col("term")).as("vocab"))
      val grams = base
        .select(col("u100"), explode(array_distinct(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 3)))
          .as("g"))
        .select(explode(pcts).as("pct"), col("u100"), col("g"))
        .where(col("u100") < col("pct"))
        .groupBy("pct")
        .agg(count_distinct(col("g")).as("gram_types"))
      perDoc.join(types, Seq("pct")).join(grams, Seq("pct"))
        .orderBy("pct")
    }),

    // IVF NPROBE sweep — recall@5 vs probed-cell count (1/2/4/8), the
    // ANN-parameter counterpart of qx57's dedup threshold sweep: the
    // report that picks nprobe (latency ∝ probed cells) before
    // committing an index configuration. One k-means fit serves all
    // four settings (the qe4 cache); exact top-5 is the bounded qe1
    // probe fence. Hit counts are integers; the one division per row is
    // exact-integer-to-double — bit-stable.
    "qe17_nprobe_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 20)
      val exact = Similarity.bruteForceKnn(emb, probes, 5)
        .select(col("q_id"), col("n_id")).withColumn("hit", lit(1L))
      val union = Seq(1, 2, 4, 8).map { p =>
        Similarity.ivfKnn(emb, probes, 5, nprobe = p,
            cacheKey = Some(s"$dir|nlist=16|iters=5"))
          .select(col("q_id"), col("n_id"))
          .withColumn("nprobe", lit(p.toLong))
      }.reduce(_ unionByName _)
      val denom = probes.agg((count(lit(1)) * 5).as("denom"))
      union.join(exact, Seq("q_id", "n_id"), "left")
        .groupBy("nprobe")
        .agg(count(lit(1)).as("n_cand"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(denom))
        .select(col("nprobe"), col("n_cand"), col("n_hits"),
          (col("n_hits").cast("double") / col("denom").cast("double"))
            .as("recall"))
        .orderBy("nprobe")
    }),

    // dup-cluster PURITY — do near-dup clusters stay inside one
    // source/lang or span dumps? qx19 answers at PAIR grain ("how much
    // does dump A duplicate dump B"); this answers at CLUSTER grain:
    // for every multi-doc qx11 cluster, its size, source/lang spread,
    // and the majority-source share — the audit that says whether
    // dedup is removing intra-dump boilerplate (pure clusters: fix the
    // extractor) or cross-dump syndication (mixed clusters: keep one
    // copy corpus-wide). Exact integers throughout; the one double
    // (majority share) is a single division both engines state
    // identically. Scale shape: the cluster chain is the probed qx11
    // production path; after it, two cluster-keyed aggs shuffle one
    // row per doc on 8-byte keys, and the output is bounded by the
    // multi-doc cluster count.
    "qz14_cluster_purity" -> ((s, dir) => {
      val cl = stagedClusters(s, dir)
        .select("doc_id", "cluster")
      val j = graft.Materialize.cut(cl.join(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        Seq("doc_id")))
      val per = j.groupBy("cluster").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      val top = j.groupBy("cluster", "source")
        .agg(count(lit(1)).as("c"))
        .groupBy("cluster").agg(max(col("c")).as("top_src_docs"))
      per.join(top, Seq("cluster"))
        .where(col("n_docs") >= 2)
        .select(col("cluster"), col("n_docs"), col("n_sources"),
          col("n_langs"), col("top_src_docs"),
          (col("top_src_docs").cast("double") /
            col("n_docs").cast("double")).as("top_share"),
          (col("n_sources") > 1).as("cross_source"))
        .orderBy("cluster")
    }),

    // chance-corrected method agreement — Cohen's κ over qz7's per-doc
    // minhash-vs-simhash duplicate flags. qz7's raw `agree` rate is
    // inflated by the ~95% of docs BOTH methods call "not a dup"; κ
    // subtracts what two independent raters with the same marginals
    // would agree on by luck, which is the number a method-selection
    // decision should actually read. Float discipline: the 2×2 cell
    // counts are exact BIGINTs from the two production dedup paths;
    // po/pe/κ are three divisions over those integers, stated with
    // identical shapes in both engines (n² stays in BIGINT — exact to
    // 3×10⁹ docs; the counts are the only distributed work, the κ
    // arithmetic is one row). pe = 1 (degenerate one-cell table) yields
    // NULL κ by guard in both engines.
    "qz15_kappa" -> ((s, dir) => {
      val cl = stagedClusters(s, dir)
      val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("csz"))
      val mhFlag = cl.join(sizes, Seq("cluster"))
        .select(col("doc_id"), (col("csz") > 1).as("mh"))
      val pairs = stagedSimhashPairs(s, dir)
      val shDocs = pairs.select(col("d1").as("doc_id"))
        .union(pairs.select(col("d2").as("doc_id")))
        .distinct().withColumn("sh", lit(true))
      val f = mhFlag.join(shDocs, Seq("doc_id"), "left")
        .select(col("mh"), coalesce(col("sh"), lit(false)).as("sh"))
      f.agg(
          sum(when(col("mh") && col("sh"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("mh") && !col("sh"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("mh") && col("sh"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("mh") && !col("sh"), 1L).otherwise(0L)).as("n00"))
        .withColumn("n",
          col("n11") + col("n10") + col("n01") + col("n00"))
        .withColumn("po",
          (col("n11") + col("n00")).cast("double") /
            col("n").cast("double"))
        .withColumn("pe",
          ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
            (col("n01") + col("n00")) * (col("n10") + col("n00")))
            .cast("double") /
            (col("n") * col("n")).cast("double"))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          col("po"), col("pe"),
          when(col("pe") < 1.0d,
            (col("po") - col("pe")) / (lit(1.0d) - col("pe")))
            .as("kappa"))
        // empty corpus ⇒ NULL sums: drop the vacuous summary row
        // (suite-wide empty-input contract), mirrored in the twin
        .where(col("n11").isNotNull)
    }),

    // encoding-QUALITY gate — mojibake and control-byte detection, the
    // ingest-time filter that catches mis-decoded crawls before they
    // poison tokenization: U+FFFD replacement chars (the upstream
    // decoder already gave up), C0 control chars outside \t\n\r
    // (binary pasted into text), and the non-ASCII character fraction
    // (a jump in a nominally-Latin source = wrong charset). All three
    // are regexp counts in the scan projection — pure narrow map, no
    // shuffle, no explode; patterns live in the Java∩RE2 subset (the
    // qx63 rule) and character classes match CODE POINTS in both
    // engines, so counts agree on any BMP corpus. Empty docs guard the
    // fraction to 0 in both engines.
    "qx65_encoding_audit" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_count(col("text"), lit("\\x{FFFD}"))
            .cast("long").as("n_repl"),
          regexp_count(col("text"),
            lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
            .cast("long").as("n_ctrl"),
          regexp_count(col("text"), lit("[^\\x00-\\x7F]"))
            .cast("long").as("n_non_ascii"),
          length(col("text")).cast("long").as("n_cp"))
        .withColumn("non_ascii_frac",
          when(col("n_cp") > 0,
            col("n_non_ascii").cast("double") / col("n_cp").cast("double"))
            .otherwise(lit(0.0d)))
        .withColumn("flagged",
          col("n_repl") > 0 || col("n_ctrl") > 0 ||
            col("non_ascii_frac") > 0.25)
        .orderBy("doc_id")),

    // label-error MINING — per label, the 5 member vectors FARTHEST
    // from their own label centroid (lowest cosine): the cleanlab-style
    // candidate list a labeling-quality pass reviews first. qe14 reports
    // per-label cohesion aggregates; this names the specific suspect
    // vectors. Same round-9 centroid staging as qe14 (so the two
    // queries' numbers reconcile), per-member cosine as the composed
    // double fold the qe-family twins state, then a per-label ascending
    // WindowGroupLimit — map-side partial top-k, never a full sort.
    // Scale: centroid frame is |labels|×dim (broadcast); the member pass
    // is one narrow map over the corpus; ties rank by vec_id.
    "qe23_centroid_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val mem = Tables.embeddings(s, dir)
        // BROADCAST BOUND (fit-state): labels x dim centroid frame
        .join(broadcast(labelCentroids(s, dir)), Seq("label"))
        .select(col("label"), col("vec_id"),
          ccos(col("embedding"), col("cvec")).as("cos"))
      val w = Window.partitionBy("label")
        .orderBy(col("cos").asc, col("vec_id"))
      mem.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select("label", "rank", "vec_id", "cos")
        .orderBy("label", "rank")
    }),

    // label-confusability MAP — pairwise cosine between label centroids
    // (the qe14/qe23 round-9 centroids): which classes sit close enough
    // in embedding space that a classifier or hard-negative miner
    // (qe22) should treat them as confusable. Output is the upper
    // triangle of the |labels|² matrix — bounded by the label
    // vocabulary however large the corpus; the only corpus-proportional
    // work is the centroid aggregation itself (map-side partial sums
    // over (label, pos) keys).
    "qe24_label_affinity" -> ((s, dir) => {
      val cent = labelCentroids(s, dir)
      val a = cent.select(col("label").as("la"), col("cvec").as("va"))
      val b = cent.select(col("label").as("lb"), col("cvec").as("vb"))
      // BROADCAST BOUND (fit-state): labels x dim centroid frame
      a.crossJoin(broadcast(b)).where(col("la") < col("lb"))
        .select(col("la"), col("lb"), ccos(col("va"), col("vb")).as("cos"))
        .orderBy("la", "lb")
    }),

    // consecutive-frame DELTA energy — the multimodal family's first
    // TEMPORAL signal (qm5 is per-frame statics): per asset, the L1
    // byte distance between each sampled frame and its predecessor over
    // their shared prefix — the scene-change / silence-detection proxy
    // a real pipeline runs right after decode (the decode itself stays
    // the documented stub; the byte plumbing is real). One narrow
    // frame-expansion map, one doc-keyed window (frames are already
    // co-partitioned by the posexplode), no extra shuffle beyond the
    // lag's partition-by. Exact integer deltas; the one double is the
    // final mean.
    "qm6_frame_delta" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      val withPrev = frameByteVectors(s, dir)
        .select(col("doc_id"), col("frame_no"), col("bv"))
        .withColumn("pv", lag(col("bv"), 1).over(w))
        .where(col("pv").isNotNull)
      val lp = least(size(col("bv")), size(col("pv")))
      withPrev
        .select(col("doc_id"), col("frame_no"),
          lp.cast("long").as("n_cmp"),
          aggregate(
            zip_with(slice(col("bv"), lit(1), lp),
              slice(col("pv"), lit(1), lp),
              (x, y) => abs(x - y)),
            lit(0L), (a0, x) => a0 + x).as("delta_l1"))
        .withColumn("mean_delta",
          col("delta_l1").cast("double") / col("n_cmp").cast("double"))
        .orderBy("doc_id", "frame_no")
    }),

    // ordered conversion FUNNEL over the events stream — per user, the
    // first 'view', the first 'click' strictly after it, the first
    // 'purchase' strictly after that, and the stage reached (0–3): the
    // product-analytics staple the events family (q36 gap-split, q48
    // sessions, qs8 attribution joins) didn't yet express. Strict
    // event-TIME ordering, not event-id order, so the result is
    // arrival-order independent. Plan shape: each stage aggregates
    // ONLY its own event-type slice (the type filter reaches the scan,
    // so a stage shuffles its slice of the stream, never the whole
    // stream — the 10× probe caught the unfiltered formulation
    // re-shuffling all events per stage once the per-user frames
    // outgrew broadcast); a user with no qualifying upstream event
    // drops from the inner stage joins and is restored NULL-staged by
    // the left joins against the distinct-user universe. Every
    // exchange is user_id-keyed and linear in its slice.
    "qz16_funnel" -> ((s, dir) => {
      val ev = graft.Materialize.cut(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts")))
      val users = ev.select("user_id").distinct()
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val c = ev.where(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .where(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .where(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      users.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
          when(col("p_ts").isNotNull, 3L)
            .when(col("c_ts").isNotNull, 2L)
            .when(col("v_ts").isNotNull, 1L)
            .otherwise(0L).as("stage"))
        .orderBy("user_id")
    }),

    // weekly COHORT retention — users grouped by their first-seen week,
    // distinct-user counts at each week offset, and the retention
    // fraction against the cohort's own week-0 size: the
    // product-analytics matrix every engagement dashboard draws.
    // Weeks are exact integer epoch-day div 7 (no timezone float), the
    // (cohort, offset, user) distinct bounds the shuffle at one row per
    // user-week, and every rollup after it runs on bounded keys
    // (weeks² cells). The one double is the final retention division.
    "qz17_retention" -> ((s, dir) => {
      val wk = Tables.events(s, dir).select(col("user_id"),
        expr("datediff(CAST(ts AS DATE), DATE'1970-01-01') div 7")
          .as("wk"))
      val cohort = wk.groupBy("user_id").agg(min("wk").as("cw"))
      val j = wk.join(cohort, Seq("user_id"))
        .select(col("cw"), (col("wk") - col("cw")).as("off"),
          col("user_id"))
        .distinct()
      val ret = j.groupBy("cw", "off").agg(count(lit(1)).as("n_users"))
      val base = ret.where(col("off") === 0)
        .select(col("cw"), col("n_users").as("cohort_size"))
      ret.join(base, Seq("cw"))
        .select(col("cw").as("cohort_week"),
          col("off").as("week_offset"),
          col("n_users"), col("cohort_size"),
          (col("n_users").cast("double") /
            col("cohort_size").cast("double")).as("retention"))
        .orderBy("cohort_week", "week_offset")
    }),

    // language-TAG audit — declared `lang` vs the qx6 stopword
    // classifier's prediction, per doc: the label-error detector for
    // language metadata (qe23 is the same idea for embedding labels).
    // Mislabeled language tags silently poison per-language mixture
    // weights (qx22/qp2) and fertility planning (qx51), so the audit
    // belongs next to them. Same one-pass scoring projection as qx6
    // (narrow map, no shuffle); agreement is a plain string equality.
    "qx68_lang_mismatch" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id") +: col("lang") +:
          Text.StopwordSets.map { case (l, ws) =>
            Text.stopwordScore(col("toks"), ws).as(s"s_$l") }: _*)
        .select(col("doc_id"), col("lang"),
          Text.langIdFromScores(
            Text.StopwordSets.map { case (l, _) => l -> col(s"s_$l") })
            .as("pred"))
        .withColumn("agree", col("pred") === col("lang"))
        .orderBy("doc_id")),

    // event-type TRANSITION matrix — first-order Markov statistics over
    // each user's event-time-ordered stream (the behavioral analog of
    // qx29's token PMI): per (from, to) pair, the transition count and
    // row-normalized probability. Strict (ts, event_id) ordering makes
    // the sequence a total order, so both engines see identical
    // successor pairs. Plan shape: ONE user_id-keyed window shuffle
    // (the same entity-keyed exchange every sequence op pays), then a
    // |types|²-bounded rollup with map-side combine; the probability is
    // one division over exact BIGINTs.
    "qz18_event_transitions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .select(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum("n").as("tot"))
      tr.join(tot, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("p"))
        .orderBy("from_type", "to_type")
    }),

    // hot-KEY skew audit — the top-10 heaviest join/agg keys in the
    // events stream with their share of all rows and their ratio to the
    // mean key load: the report that DECIDES when the engine's own skew
    // disciplines (salted assembly, AQE skew join, band caps) need to
    // engage on an entity key. Exact integer counts; the global top-k
    // is a TakeOrdered (sort-limit) — never a full global sort — and
    // the two scalars it joins are a one-row broadcast.
    "qz19_key_skew" -> ((s, dir) => {
      val cnt = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      val stats = cnt.agg(sum("n").as("total"),
        count(lit(1)).as("n_keys"))
      cnt.crossJoin(broadcast(stats))
        .select(col("user_id"), col("n").as("n_events"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          ((col("n") * col("n_keys")).cast("double") /
            col("total").cast("double")).as("skew"))
        .orderBy(desc("n_events"), col("user_id"))
        .limit(10)
    }),

    // storage-SAVINGS manifest — what exact dedup would reclaim at each
    // content grain (doc / line / frame), in one report: total units,
    // distinct units, duplicate units, total bytes, and the bytes freed
    // by keeping one copy per fingerprint. The capacity-planning number
    // a 100 TB ingest actually budgets with (qx1/qx62/qm4 DECIDE what
    // to drop; this prices it). All exact integers; every grain is a
    // fingerprint-keyed agg over hashes computed in the scan projection
    // — raw bytes never shuffle (the qm3 discipline). The three
    // one-row rollups union into a 3-row frame.
    "qz20_dedup_savings" -> ((s, dir) => {
      def gather(grain: String, units: DataFrame): DataFrame = {
        // units: (fp, nb) one row per unit instance
        val per = units.groupBy("fp").agg(
          count(lit(1)).as("n"),
          // dup instances beyond the first each free one copy's bytes;
          // identical fp ⇒ identical bytes, min is exact
          min("nb").as("nb"))
        per.agg(
          sum("n").as("n_units"),
          count(lit(1)).as("n_distinct"),
          (sum("n") - count(lit(1))).as("dup_units"),
          sum(col("n") * col("nb")).as("bytes_total"),
          sum((col("n") - 1) * col("nb")).as("bytes_saved"))
          .select(lit(grain).as("grain"), col("n_units"),
            col("n_distinct"), col("dup_units"), col("bytes_total"),
            col("bytes_saved"))
          // empty grain ⇒ NULL sums: no row (empty-input contract)
          .where(col("n_units").isNotNull)
      }
      val docs = Tables.documents(s, dir)
      val docUnits = docs.select(md5(col("text")).as("fp"),
        octet_length(col("text")).cast("long").as("nb"))
      val lineUnits = docs
        .select(explode(split(col("text"), "\n")).as("line"))
        .select(md5(col("line")).as("fp"),
          octet_length(col("line")).cast("long").as("nb"))
      val frameUnits = Multimodal.synthMedia(s, dir)
        .select(explode(
          Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4))
          .as("frame"))
        .where(octet_length(col("frame")) > 0)
        .select(hex(col("frame")).as("fp"),
          octet_length(col("frame")).cast("long").as("nb"))
      gather("doc", docUnits)
        .unionAll(gather("line", lineUnits))
        .unionAll(gather("frame", frameUnits))
        .orderBy("grain")
    }),

    // daily OHLC per user — open/high/low/close of the `value` series
    // per (user, day) with strict (ts, event_id) ordering for the
    // open/close picks: the time-bucketed first/last/extremes rollup
    // every metrics store materializes. First/last ride lexicographic
    // struct min/max (one agg, no window, map-side partials — the
    // deterministic-last-value discipline of q17/A7); the value sum is
    // integer milli units (qs3 rule). One (user, day)-keyed exchange.
    "qz21_daily_ohlc" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        col("ts").cast("date").as("day"),
        col("ts"), col("event_id"), col("value"))
      e.groupBy("user_id", "day")
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"),
          count(lit(1)).as("n"),
          sum(floor(col("value") * 1000).cast("long")).as("v_milli"))
        .orderBy("user_id", "day")
    }),

    // INTERPOLATED (type-7) length quantiles per language — the
    // continuous companion of qx18's type-1 picks, computed the
    // scale-correct way: the same bounded-domain (lang, n_chars)
    // histogram (one shuffle of distinct values), cumulative window
    // per lang, then h = (n−1)·q/100 split into an exact integer rank
    // (div) and an exact rational fraction (mod/100); the two
    // bracketing order statistics come from the cumulative counts and
    // the one interpolation is a double expression both engines state
    // identically. No per-row sort, no full-value agg state — one row
    // per DISTINCT length however large the corpus.
    "qx69_interp_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.documents(s, dir)
        .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("c").over(wc))
        .withColumn("total", sum("c").over(Window.partitionBy("lang")))
      def qc(pct: Int) = {
        // lo/frac are per-lang constants stated at row level; max()
        // lifts frac into the aggregation scope unchanged
        val lo = expr(s"((total - 1) * $pct) div 100")
        val frac = (((col("total") - 1) * pct) % 100).cast("double") /
          lit(100.0d)
        val vLo = min(when(col("cum") >= lo + 1, col("n_chars")))
        val vHi = coalesce(min(when(col("cum") >= lo + 2, col("n_chars"))),
          vLo)
        (vLo.cast("double") +
          max(frac) * (vHi.cast("double") - vLo.cast("double")))
          .as(s"p${pct}_c")
      }
      cum.groupBy("lang")
        .agg(max("total").as("n"), qc(25), qc(50), qc(75))
        .orderBy("lang")
    }),

    // semDedup CELL-CAP sweep — the selection report for the qz1 guard
    // (every cap discipline has one: qx57 thresholds, qx59 bands, qe17
    // nprobe; this prices the cellCap): kept/duplicate counts at a
    // tight cap (8), the qz1 demonstration cap (24), and the production
    // default (4096). Chunk counts are rounded up to powers of two, so
    // mod-classes NEST across caps (a larger cap's chunks are unions of
    // a smaller cap's — true for ARBITRARY cap values, closing the
    // round-9 advisory that 24 ∤ 4096 broke refinement): every pair
    // compared at a tight cap is compared at a looser one, and n_dups
    // is provably non-decreasing in the cap — the invariant
    // Round9bSpec pins. All three legs share one cached IVF fit (the
    // qe11/qz1 key), so the sweep prices the cap, not fit noise.
    "qe25_cellcap_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val key = Some(s"$dir|nlist=16|iters=5")
      // round-16: the three per-cap semDedup legs fused into ONE pair
      // pass (see Similarity.semDedupSweep — power-of-two chunk-count
      // nesting makes the coarsest cap's pair set a superset; per-cap
      // residue flags classify every pair for every cap). Same rows.
      Similarity.semDedupSweep(emb, 0.4, Seq(8, 24, 4096),
        cacheKey = key)
    }),

    // the FOURTH composed pipeline — eval-split prep (qp1 curates, qp2
    // mixes, qp3 writes; this builds train/val/test): benchmark
    // decontamination (the qx13 gate) → deterministic 80/10/10 md5
    // split (the qx12 hex-threshold rule — reproducible across engines
    // AND reruns) → per-split manifest with byte totals, the
    // cross-split exact-dup LEAK count (fingerprints spanning >1 split
    // — the qx48 failure mode this pipeline exists to surface), and
    // contamination losses attributed to the split they would have
    // landed in. One declarative plan; the split/fingerprint frame is
    // cut once and feeds all three rollups; every rollup is
    // split-keyed (3 keys).
    "qp4_eval_split_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val probe = docs.where(col("doc_id") % 97 === 0)
      val contaminated = Dedup.decontaminate(corpus, probe)
        .where(col("contaminated")).select("doc_id")
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 8)
      val split = when(bucket < "cccccccc", "train") // 80%
        .when(bucket < "e6666666", "val") // 10%
        .otherwise("test") // 10%
      val assigned = graft.Materialize.cut(
        corpus.join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("split", split)
          .select(col("doc_id"), col("split"), md5(col("text")).as("fp"),
            octet_length(col("text")).cast("long").as("nb")))
      val leaky = assigned.groupBy("fp")
        .agg(countDistinct("split").as("ns"))
        .where(col("ns") > 1).select("fp")
      val leakCounts = assigned.join(leaky, Seq("fp"), "left_semi")
        .groupBy("split").agg(count(lit(1)).as("n_leaked"))
      val base = assigned.groupBy("split").agg(
        count(lit(1)).as("n_docs"), sum("nb").as("bytes"))
      val droppedBy = corpus
        .join(contaminated, Seq("doc_id"), "left_semi")
        .withColumn("split", split)
        .groupBy("split").agg(count(lit(1)).as("n_dropped_contam"))
      base.join(leakCounts, Seq("split"), "left")
        .join(droppedBy, Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("bytes"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          coalesce(col("n_dropped_contam"), lit(0L))
            .as("n_dropped_contam"))
        .orderBy("split")
    }),

    // source DIVERSITY index — per source, the Simpson index of its
    // language mix (1 − Σ(cₗ/n)²: the probability two random docs from
    // the source differ in language) plus the dominant-language share:
    // the composition-health gauge next to qz4's over/under-
    // representation PMI. Simpson instead of Shannon entropy on
    // purpose — it is RATIONAL in the counts (no transcendental to
    // disagree on), same reason qx25 avoids log. Two bounded-key aggs
    // (sources×langs then sources), map-side combine, nothing
    // corpus-proportional after the first rollup.
    "qz22_source_diversity" -> ((s, dir) => {
      val cl = Tables.documents(s, dir)
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      cl.groupBy("source").agg(
          sum("c").as("n_docs"),
          count(lit(1)).as("n_langs"),
          max("c").as("top_c"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          (lit(1.0d) - col("ss").cast("double") /
            (col("n_docs") * col("n_docs")).cast("double"))
            .as("simpson"),
          (col("top_c").cast("double") / col("n_docs").cast("double"))
            .as("top_share"))
        .orderBy("source")
    }),

    // HAPAX rate per source — the share of a source's vocabulary seen
    // exactly once: the vocabulary-health number next to Zipf (qx30),
    // Heaps (qx31/qx60) and burstiness (qx66). A hapax share far above
    // the corpus norm means OCR noise / mojibake / id-like junk
    // inflating the vocabulary; far below means templated text. One
    // (source, term) rollup (map-side combine over the narrow tokenize
    // map) then a source-keyed fold; the fraction is one division.
    "qx70_hapax_rate" -> ((s, dir) => {
      val tc = Tables.documents(s, dir)
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("c"))
      tc.groupBy("source").agg(
          count(lit(1)).as("n_terms"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum("c").as("n_tokens"))
        .select(col("source"), col("n_terms"), col("n_hapax"),
          col("n_tokens"),
          (col("n_hapax").cast("double") / col("n_terms").cast("double"))
            .as("hapax_frac"))
        .orderBy("source")
    }),

    // trailing-7-day RANGE-frame rollup — the window-frame mode the
    // suite's window family (q45 rows-frames, q08/q09 lag filters,
    // qx18 cumulative) didn't yet cover: a VALUE-range frame
    // (`rangeBetween(-6, 0)` over integer epoch-days), which skips
    // missing days by value distance, not row count — the semantics a
    // row frame gets wrong on sparse dailies. Day totals aggregate
    // first (user-day grain, exact milli units), so the window runs
    // over ≤ |users|×|days| rows, never raw events.
    "qz23_trailing_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT)").as("d"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("user_id", "d")
        .agg(sum("vm").as("v_day"), count(lit(1)).as("n_day"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rangeBetween(-6, 0)
      daily
        .withColumn("v_7d", sum("v_day").over(w))
        .withColumn("n_7d", sum("n_day").over(w))
        .orderBy("user_id", "d")
    }),

    // metadata-SANITY correlation — per source, Pearson r between the
    // declared n_chars and the actual whitespace token count: r ≈ 1 is
    // healthy, a low r means the length metadata lies (truncated text,
    // wrong column, stale chars) and every byte-budgeted plan built on
    // it (qx51, qp2, qz11) inherits the lie. The SIX sums are the
    // distributed part — exact BIGINTs with map-side combine; r itself
    // is one row of double arithmetic both engines state identically
    // (sums exceed 2^53 only past ~10⁹ docs per source at this
    // magnitude — the qz15 integer-window note applies).
    "qx71_meta_corr" -> ((s, dir) => {
      val m = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").as("x"),
          size(Text.tokens(col("text"))).cast("long").as("y"))
      m.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("r",
          // zero-variance side (single doc, constant metadata) ⇒ NULL,
          // not 0/0 — the qz15/qz24 degenerate-case rule, mirrored in
          // the twin (NaN-vs-NULL would diverge across engines)
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("n") * col("syy") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")) *
                sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")))))
        .select("source", "n", "sx", "sy", "r")
        .orderBy("source")
    }),

    // A/B-test SIGNIFICANCE — the two-proportion test every experiment
    // readout runs, on conversion (≥1 purchase) split by a
    // deterministic variant hash (user_id parity stands in for the
    // assignment column): pooled two-proportion z² (≡ 1-dof χ², the
    // qx53 discipline — RATIONAL in the four counts, no transcendental)
    // with the 95% decision at the χ²₁ critical value. The per-user
    // conversion rollup is the only corpus-proportional work; the test
    // itself is one row of double arithmetic over exact BIGINTs.
    // Degenerate pools (p̂ = 0 or 1 — no variance) yield NULL χ² in
    // both engines.
    "qz24_ab_test" -> ((s, dir) => {
      val conv = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("cv"))
        .withColumn("variant", col("user_id") % 2)
      val g = conv.groupBy("variant")
        .agg(count(lit(1)).as("n"), sum("cv").as("c"))
      val a = g.where(col("variant") === 0)
        .select(col("n").as("n0"), col("c").as("c0"))
      val b = g.where(col("variant") === 1)
        .select(col("n").as("n1"), col("c").as("c1"))
      val p0 = col("c0").cast("double") / col("n0").cast("double")
      val p1 = col("c1").cast("double") / col("n1").cast("double")
      val pp = (col("c0") + col("c1")).cast("double") /
        (col("n0") + col("n1")).cast("double")
      val chi2 = (p0 - p1) * (p0 - p1) /
        (pp * (lit(1.0d) - pp) *
          (lit(1.0d) / col("n0").cast("double") +
            lit(1.0d) / col("n1").cast("double")))
      a.crossJoin(b)
        .select(col("n0"), col("c0"), col("n1"), col("c1"),
          p0.as("p0"), p1.as("p1"),
          when(pp > 0.0d && pp < 1.0d, chi2).as("chi2"),
          when(pp > 0.0d && pp < 1.0d, chi2 > 3.841d)
            .as("significant"))
    }),

    // conversion-LATENCY quantiles — minutes from first 'view' to the
    // first 'purchase' after it, summarized by the qx18 exact-histogram
    // discipline (type-1 picks over a minute-bucketed integer domain —
    // no per-user latency ever sorts globally): the funnel's (qz16)
    // companion metric every growth dashboard reports. Two conditional
    // user-keyed mins, a minute-grain histogram, one cumulative window
    // over the DISTINCT latencies only.
    "qz25_time_to_convert" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val p = ev.where(col("event_type") === "purchase")
        .join(v, Seq("user_id"))
        .where(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      val dt = v.join(p, Seq("user_id"))
        .select(expr("(unix_micros(p_ts) - unix_micros(v_ts)) " +
          "div 60000000").as("m"))
      val hist = dt.groupBy("m").agg(count(lit(1)).as("c"))
      // GLOBAL-WINDOW BOUND (calendar): minute-grain histogram ≤ span minutes
      val wc = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("c").over(wc))
        .withColumn("total", sum("c").over(
          Window.partitionBy(lit(1))))
      def q(pct: Int) =
        min(when(col("cum") * 100 >= col("total") * pct, col("m")))
          .as(s"p${pct}_min")
      cum.agg(max("total").as("n_converted"), q(25), q(50), q(75))
        // no converting users ⇒ NULL max: no row (empty-input contract)
        .where(col("n_converted").isNotNull)
    }),

    // SALTED skewed join under the hash gate — the join-grain
    // counterpart of the salted assembly (Assembly R8) and the repair
    // qz19's audit calls for: the fact side's key is widened with a
    // deterministic xxhash64-mod salt (row-unique event_id seeds it)
    // and the dim side explodes × salts, so a hot key's fact rows
    // spread over `salts` tasks while every fact row still meets its
    // dim row exactly once. The oracle is the PLAIN join — salting must
    // be invisible in the result. Scale shape: dim × 8 rows shuffled
    // (the trade vs broadcast when dim is too big), fact shuffles once
    // on (key, salt). AQE's automatic skew-split over the same planted
    // hot key is pinned separately in Round10Spec.
    "qz26_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_user_events"))
      Skew.saltedJoin(ev.select("event_id", "user_id"), dim,
        key = "user_id", uniqueCol = "event_id", salts = 8)
        .select(col("event_id"), col("user_id"), col("n_user_events"))
        .orderBy("event_id")
    }),

    // HYPERLOGLOG distinct estimate per source — the log-space register
    // sketch next to KMV/bottom-k (qx17) and CMS (qx39): md5₆₀ term
    // keys, 256 registers (low 8 bits pick the bucket, the remaining
    // 52 bits' leading-zero rank is the register value via the
    // integer-only length(bin(v)) — no float anywhere in the sketch),
    // raw HLL estimate αm²/Σ2^{-M_j}. The Σ is EXACT: numerators are
    // scaled by 2⁵³ so the per-register terms are BIGINTs (≤ 2⁶²
    // total) and the only double op is the final one division by the
    // constant-folded α·m²·2⁵³ literal — bit-identical cross-engine.
    // Scale shape: registers are a 256-row frame per source however
    // large the corpus; the sketch MERGES by max — the distributed
    // aggregation IS the merge. Exact distinct rides along to price
    // the sketch's error (the qx17/qx54 audit discipline).
    "qx72_hll_distinct" -> ((s, dir) => {
      val m = 256
      // α₍₂₅₆₎·m²·2⁵³ as ONE Scala-computed double literal shared with
      // the twin via Double.toString round-tripping
      val c = 0.7213 / (1.0 + 1.079 / m) * m * m * 9007199254740992.0
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(array_distinct(Text.tokens(col("text")))).as("term"))
      val reg = toks
        .withColumn("h",
          conv(substring(md5(col("term")), 1, 15), 16, 10).cast("long"))
        .select(col("source"), (col("h") % m).as("bucket"),
          expr("h div 256").as("v"))
        .select(col("source"), col("bucket"),
          when(col("v") === 0L, lit(53))
            .otherwise(lit(53) - length(bin(col("v")))).as("rho"))
      val hit = reg.groupBy("source", "bucket").agg(max("rho").as("mx"))
      val agg = hit.groupBy("source").agg(
        count(lit(1)).as("n_hit"),
        sum(expr("shiftleft(1L, 53 - mx)")).as("num_hit"))
      val exact = toks.groupBy("source")
        .agg(count_distinct(col("term")).as("n_exact"))
      agg.join(exact, "source")
        .select(col("source"),
          col("n_hit").cast("long").as("n_buckets_hit"),
          (lit(c) / (col("num_hit") +
            (lit(m.toLong) - col("n_hit")) * lit(9007199254740992L))
            .cast("double")).as("hll_est"),
          col("n_exact"))
        .orderBy("source")
    }),

    // session BOUNCE RATE — share of sessions that contain exactly one
    // event: the engagement-health gauge next to q48's session list.
    // Uses the ENGINE's session_window (inclusive merge at exactly the
    // gap — the Round9Spec-pinned boundary; the twin's strict > break
    // encodes the same rule), one corpus-wide summary row.
    "qz30_bounce_rate" -> ((s, dir) => {
      val sess = Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
      sess.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_bounce"))
        .select(col("n_sessions"), col("n_bounce"),
          (col("n_bounce").cast("double") /
            col("n_sessions").cast("double")).as("bounce_rate"))
        .where(col("n_sessions") > 0L) // empty input → no row (count is 0, not null)
    }),

    // the FIFTH composed pipeline — and the first MULTIMODAL one (qp1
    // curates text, qp2 mixes, qp3 writes shards, qp4 splits): media
    // ingest = blob-exact dedup (qm3's fingerprint keeper) → per-asset
    // frame facts (count, distinct frames, qm9's shot count — all from
    // ONE frame staging pass) → a static-asset gate (every frame
    // identical = blank/frozen payload) → per-asset manifest with stage
    // flags. One declarative plan; blob bytes never shuffle (the
    // fingerprint and frame slices are computed in the scan
    // projection).
    "qp5_media_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val media = Multimodal.synthMedia(s, dir)
        .select(col("doc_id"), col("meta.nbytes").as("nbytes"),
          md5(col("bytes")).as("fp"))
      val keepers = media.groupBy("fp").agg(min("doc_id").as("keeper"))
      val deduped = media.join(keepers, "fp")
        .withColumn("is_dup_blob", col("doc_id") =!= col("keeper"))
      val fv = frameByteVectors(s, dir)
      val frameFacts = fv.groupBy("doc_id").agg(
        count(lit(1)).as("n_frames"),
        count_distinct(col("bv")).as("n_distinct_frames"))
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      val withPrev = fv.select(col("doc_id"), col("frame_no"), col("bv"))
        .withColumn("pv", lag(col("bv"), 1).over(w))
      val lp = least(size(col("bv")), size(col("pv")))
      val delta = aggregate(
        zip_with(slice(col("bv"), lit(1), lp),
          slice(col("pv"), lit(1), lp), (x, y) => abs(x - y)),
        lit(0L), (a0, x) => a0 + x)
      val shots = withPrev
        .withColumn("brk",
          when(col("pv").isNull || delta >= 520L, 1L).otherwise(0L))
        .groupBy("doc_id").agg(sum("brk").as("n_shots"))
      deduped.join(frameFacts, "doc_id").join(shots, "doc_id")
        .withColumn("is_static", col("n_distinct_frames") === 1L)
        .withColumn("kept", !col("is_dup_blob") && !col("is_static"))
        .select(col("doc_id"), col("nbytes"), col("n_frames"),
          col("n_distinct_frames"), col("n_shots"),
          col("is_dup_blob"), col("is_static"), col("kept"))
        .orderBy("doc_id")
    }),

    // GOPHER-style RULE GATE — the published multi-rule quality filter
    // (Rae et al. 2021 §A1.1) with PER-RULE failure attribution, the
    // report qx7's composite score can't give: which rule kills how
    // many docs per source decides which rule to re-tune. Rules at the
    // published thresholds: token count ∈ [50, 100000], mean word
    // length ∈ [3, 10], alphabetic-token share ≥ 0.8, ≥ 2 stopwords,
    // symbol-to-token ratio ≤ 0.1. Every comparison is exact-integer
    // cross-multiplication (3·n ≤ Σlen ≤ 10·n, 5·n_alpha ≥ 4·n,
    // 10·n_sym ≤ n) — no double ratios to disagree on. Scale shape: one
    // narrow scoring map in the scan projection, one |sources|-keyed
    // rollup; nothing corpus-grain shuffles.
    "qx75_gopher_gate" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val n = size(toks).cast("long")
      val sumlen = aggregate(toks, lit(0L), (a, t) => a + length(t))
      val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
      val nStop = size(filter(toks, t =>
        Seq("the", "and", "of", "to", "a").map(w => t === lit(w))
          .reduce(_ || _))).cast("long")
      val nSym = regexp_count(col("text"), lit("[#@*…]")).cast("long")
      Tables.documents(s, dir)
        .select(col("source"), n.as("n"), sumlen.as("sumlen"),
          nAlpha.as("n_alpha"), nStop.as("n_stop"), nSym.as("n_sym"))
        .select(col("source"),
          (col("n") >= 50L && col("n") <= 100000L).as("r_len"),
          (lit(3L) * col("n") <= col("sumlen") &&
            col("sumlen") <= lit(10L) * col("n")).as("r_wlen"),
          (lit(5L) * col("n_alpha") >= lit(4L) * col("n")).as("r_alpha"),
          (col("n_stop") >= 2L).as("r_stop"),
          (lit(10L) * col("n_sym") <= col("n")).as("r_sym"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("r_len") && col("r_wlen") && col("r_alpha") &&
            col("r_stop") && col("r_sym"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(!col("r_len"), 1L).otherwise(0L)).as("n_fail_len"),
          sum(when(!col("r_wlen"), 1L).otherwise(0L)).as("n_fail_wlen"),
          sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("n_fail_alpha"),
          sum(when(!col("r_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
          sum(when(!col("r_sym"), 1L).otherwise(0L)).as("n_fail_sym"))
        .orderBy("source")
    }),

    // AUDIO-style LOUDNESS over the qm8-decoded channels — per (asset,
    // channel): sample count, exact sum of squares, peak, hot-sample
    // count (sample ≥ 160 — the top amplitude band the synthetic
    // UTF-8-derived byte domain can reach; valid UTF-8 never emits
    // 0xF5+, so a 250-style ceiling would be vacuously zero), and RMS.
    // The signal-level gate a media-curation pipeline runs after decode
    // (silent / clipped channels are drop candidates the way blank
    // frames are in qp5). Float discipline: everything is exact BIGINT
    // until ONE sqrt(double/double) per output row — IEEE sqrt is
    // correctly rounded in both engines. Scale shape: frame slices +
    // channel de-interleave in the scan projection (blob bytes never
    // shuffle), a 3-struct explode (bounded ×3), one (asset,
    // channel)-keyed rollup.
    "qm10_audio_loudness" -> ((s, dir) => {
      val pad = concat(col("bv"),
        array_repeat(lit(0L), lit(16) - size(col("bv"))))
      def samp(c: Int) = Seq(5, 8, 11, 14).map(p =>
        element_at(col("p16"), p + c))
      def chStruct(c: Int) = struct(
        lit(c.toLong).as("channel"),
        samp(c).map(x => x * x).reduce(_ + _).as("ssq"),
        greatest(samp(c): _*).as("pk"),
        samp(c).map(x => when(x >= 160L, 1L).otherwise(0L))
          .reduce(_ + _).as("clip"))
      frameByteVectors(s, dir)
        .select(col("doc_id"), pad.as("p16"))
        .select(col("doc_id"),
          explode(array(chStruct(0), chStruct(1), chStruct(2))).as("ch"))
        .groupBy(col("doc_id"), col("ch.channel").as("channel"))
        .agg((count(lit(1)) * 4L).as("n_samples"),
          sum(col("ch.ssq")).as("sum_sq"),
          max(col("ch.pk")).as("peak"),
          sum(col("ch.clip")).as("n_clip"))
        .withColumn("rms", sqrt(col("sum_sq").cast("double") /
          col("n_samples").cast("double")))
        .orderBy("doc_id", "channel")
    }),

    // VALUE-CONCENTRATION report — Gini coefficient + top-decile share
    // of per-user purchase value: the "do 1% of users carry the
    // corpus" gauge that prices qz19's row-skew finding in REVENUE
    // terms. Distributed shape: user-grain rollup (corpus-
    // proportional), then the qx18/qz5 exact-HISTOGRAM rule — group by
    // distinct v_milli so the one ordered window runs at distinct-VALUE
    // grain, never user grain; ties need no order (Σ rank·v over a tie
    // block depends only on cumulative counts, so the rank formula is
    // computed per block: Σi = c·C_before + c(c+1)/2). All integer
    // until the two final divisions. BIGINT bound: Σ rank·v_milli ≤
    // n_users² · v̄_milli must stay < 2⁶³ — holds to ~10⁹ users at
    // ~10⁴ milli mean, the suite-wide exact-sum envelope (qx71 rule).
    "qz31_value_gini" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val users = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(floor(col("value") * 1000).cast("long")).as("v"))
      val hist = users.groupBy("v").agg(count(lit(1)).as("c"))
      // GLOBAL-WINDOW BOUND (distinct-value): milli-quantized spend levels;
      // a pathological all-distinct corpus degrades toward user grain — an
      // exact Gini needs a total order by definition, and the histogram
      // form makes coarsening the milli grid the one-line escape hatch
      val wAsc = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wDesc = Window.orderBy(col("v").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // Σ 2·rank·v over a tie block of c users at value v with cb users
      // below = v·(2·c·cb + c·(c+1)) — integer, no division
      val blocks = hist
        .withColumn("cb", coalesce(sum("c").over(wAsc), lit(0L)))
        .withColumn("ca", coalesce(sum("c").over(wDesc), lit(0L)))
      val scal = blocks.agg(sum(col("c")).as("n"),
        sum(col("v") * col("c")).as("tot"),
        sum(col("v") * (lit(2L) * col("c") * col("cb") +
          col("c") * (col("c") + 1L))).as("trv"))
      // top-decile mass: the k = ceil(n/10) heaviest users; each value
      // block contributes min(c, max(0, k − users_above)) of its users
      blocks.crossJoin(broadcast(scal))
        .withColumn("k", expr("(n + 9) div 10"))
        .withColumn("take",
          greatest(lit(0L), least(col("c"), col("k") - col("ca"))))
        .agg(first(col("n")).as("n_users"),
          first(col("tot")).as("total_milli"),
          first(col("trv")).as("trv"),
          sum(col("take") * col("v")).as("top_milli"))
        .where(col("total_milli") > 0L)
        .select(col("n_users"), col("total_milli"),
          ((col("trv") - (col("n_users") + 1L) * col("total_milli"))
            .cast("double") /
            (col("n_users") * col("total_milli")).cast("double"))
            .as("gini"),
          (col("top_milli").cast("double") /
            col("total_milli").cast("double")).as("top_decile_share"))
    }),

    // MARKOV STATIONARY mix — 5 integer power-iteration steps over
    // qz18's transition matrix: where the behavioral mix settles if
    // users keep clicking (the long-run analog of qz18's one-step
    // probabilities). qz8's PageRank discipline: probabilities and mass
    // in exact nano-units, every step `div`s once per edge
    // (order-independent sums, both engines bit-equal), ONE double
    // division at the end. Scale shape: the corpus-grain work (the
    // user-keyed window pass) is distributed; the MATRIX is
    // |types|²-bounded, so it's collected like a fit (the k×dim rule
    // the centroid/PQ fits follow) and the power steps run on ≤ 25
    // cells — qz8 iterates distributed because its dup graph is
    // corpus-sized, this doesn't because its model isn't (probed: a
    // distributed 5-step fold re-read the window exchange 3× at 100×).
    "qz32_markov_stationary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val cells = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val G = 1000000000L
      val tot = cells.groupBy(_._1)
        .map { case (f, es) => f -> es.map(_._3).sum }
      val p = cells.map { case (f, t, n) => (f, t, n * G / tot(f)) }
      val types = p.map(_._1).distinct
      var pi: Map[String, Long] =
        if (types.isEmpty) Map.empty
        else types.map(_ -> G / types.length).toMap
      // a to-type keeps its row only if ≥ 1 edge's source carries mass
      // (the twin's INNER join + GROUP BY drops the rest)
      for (_ <- 1 to 5) pi = p.groupBy(_._2).flatMap { case (to, es) =>
        val srcs = es.collect {
          case (f, _, pn) if pi.contains(f) => pi(f) * pn / G }
        if (srcs.isEmpty) None else Some(to -> srcs.sum)
      }
      import s.implicits._
      val out = pi.toSeq.sortBy(_._1)
        .map { case (t, n) => (t, n, n.toDouble / 1e9d) }
      out.toDF("event_type", "pi_nano", "pi").orderBy("event_type")
    }),

    // WINNOW PAIR matching — doc pairs ranked by shared winnowing
    // fingerprints with the overlap coefficient (shared / smaller
    // fingerprint set): the LOCAL-span plagiarism detector qx43's
    // per-doc shared-fraction report can't give (qx33/qx47 compare FULL
    // gram sets; winnow minima are the sampled ~1/w subset, which is
    // what makes pair mining affordable). The qx21 df-cap discipline
    // guards the self-join (a fingerprint in > cap docs is boilerplate,
    // not evidence — its df² pair mass is the quadratic term); pair
    // volume is cap-bounded at Σ min(df,cap)² per fingerprint.
    "qx76_winnow_pairs" -> ((s, dir) => {
      val cap = 64
      val fps = Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 3)
            .as("hs"))
        .withColumn("fps", Text.winnowFps(col("hs"), 4))
      val fpx = graft.Materialize.cut(
        fps.select(col("doc_id"), explode(col("fps")).as("v")))
      val sizes = fpx.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val dfre = fpx.groupBy("v").agg(count(lit(1)).as("n_docs"))
      val kept = fpx.join(dfre.where(col("n_docs") <= cap), "v")
        .select("doc_id", "v")
      val pairs = kept.as("a").join(kept.as("b"),
        col("a.v") === col("b.v") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
      pairs
        .join(sizes.select(col("doc_id").as("d1"), col("n_fp").as("fp1")),
          "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n_fp").as("fp2")),
          "d2")
        .select(col("d1"), col("d2"), col("n_shared"),
          (col("n_shared").cast("double") /
            least(col("fp1"), col("fp2")).cast("double")).as("overlap"))
        .orderBy("d1", "d2")
    }),

    // CUSUM CHANGEPOINT on the daily event volume — the day where the
    // cumulative deviation from a flat rate peaks: the level-shift
    // detector next to qx56's distribution drift (KS) and qz5's point
    // outliers (MAD). All-integer argmax: the scaled CUSUM statistic is
    // D·cum_d − d_idx·C (cross-multiplied — no per-day float mean),
    // ties break to the earliest day; the two segment means are the
    // only doubles, computed once. Scale shape: day-grain rollup (the
    // bounded-domain rule — one row per distinct DAY however large the
    // corpus), one window at day grain, TakeOrdered(1).
    "qz33_changepoint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val staged = daily
        // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days (both)
        .withColumn("cum", sum("c").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("idx",
          row_number().over(Window.orderBy("day")).cast("long"))
      val tot = staged.agg(max("cum").as("ctot"),
        count(lit(1)).as("n_days"))
      staged.crossJoin(broadcast(tot))
        .withColumn("s", col("n_days") * col("cum") -
          col("idx") * col("ctot"))
        .orderBy(abs(col("s")).desc, col("day"))
        .limit(1)
        .select(col("day").as("cp_day"), col("n_days"),
          col("s").as("cusum_scaled"),
          (col("cum").cast("double") / col("idx").cast("double"))
            .as("pre_mean"),
          when(col("n_days") > col("idx"),
            (col("ctot") - col("cum")).cast("double") /
              (col("n_days") - col("idx")).cast("double"))
            .as("post_mean"))
    }),

    // the SIXTH composed pipeline — EVENTS analytics (qp1 curates text,
    // qp2 mixes, qp3 writes shards, qp4 splits, qp5 ingests media; this
    // is the product-analytics run): sessionize (the engine
    // session_window, qz30's boundary) → qz16's strict-order funnel
    // stage → purchase-value attribution in exact milli units → ONE
    // per-stage manifest with users / sessions / events / value — the
    // daily-KPI table a dashboard reads. Every exchange is
    // user_id-keyed and linear; the manifest is 4 rows.
    "qp6_funnel_pipeline" -> ((s, dir) => {
      val ev = graft.Materialize.cut(Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("value")))
      val sess = ev
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n")).groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"))
      val base = ev.groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 1000).cast("long")).otherwise(0L))
          .as("v_milli"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val c = ev.where(col("event_type") === "click")
        .join(v, Seq("user_id")).where(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, Seq("user_id")).where(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      base.join(sess, Seq("user_id"))
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("n_sessions"),
          col("v_milli"),
          when(col("p_ts").isNotNull, 3L)
            .when(col("c_ts").isNotNull, 2L)
            .when(col("v_ts").isNotNull, 1L)
            .otherwise(0L).as("stage"))
        .groupBy("stage").agg(
          count(lit(1)).as("n_users"),
          sum("n_sessions").as("n_sessions"),
          sum("n_events").as("n_events"),
          sum("v_milli").as("value_milli"))
        .orderBy("stage")
    }),

    // 13-GRAM DECONTAMINATION — the published n-gram overlap rule
    // (GPT-3 appendix C): a training doc is contaminated if ANY of its
    // 13-token shingles appears in the benchmark set. The span-grain
    // member of the decontamination family: qx13 fingerprints whole
    // docs (misses quoted passages), qx45 Blooms the same; this catches
    // a single copied benchmark sentence. Scale shape: benchmark grams
    // are distinct-hashed and BROADCAST (benchmarks are small by
    // definition — the qx13 fence); the corpus side is one narrow
    // native gram pass (60-bit hashes, no gram strings) + a doc-grain
    // rollup. Docs under 13 tokens have zero grams and are clean.
    "qx77_ngram_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def grams13(d: DataFrame) = d
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id"), explode(
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13))
          .as("g"))
      val bench = grams13(docs.where(col("doc_id") % 97 === 0))
        .select("g").distinct().withColumn("hit", lit(1L))
      val corpus = docs.where(col("doc_id") % 97 =!= 0)
      val hits = grams13(corpus)
        // BROADCAST BOUND (benchmark-set): fixed eval-suite surrogate (the 1/97 sample stands in for a constant-size benchmark)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      corpus.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("contaminated", col("n_hit") >= 1L)
        .orderBy("doc_id")
    }),

    // PERCEPTUAL (aHash) media near-dup — frames reduced to a 16-bit
    // signature (bit i set iff 16·bᵢ > Σb, the strict integer
    // cross-multiplied "above the frame mean" rule), then asset pairs
    // sharing ≥ 2 distinct signatures: the brightness-shift-robust
    // counterpart of qm4's exact frame dedup (byte-identical only).
    // Constant frames hash to signature 0 — boilerplate the qx21
    // df-cap drops before the self-join, which keeps pair volume
    // Σ min(df,cap)²-bounded. Blob bytes never shuffle; signatures are
    // 8-byte keys.
    "qm11_phash_neardup" -> ((s, dir) => {
      val cap = 64
      val pad = concat(col("bv"),
        array_repeat(lit(0L), lit(16) - size(col("bv"))))
      val withP = frameByteVectors(s, dir)
        .select(col("doc_id"), pad.as("p16"))
        .withColumn("s", aggregate(col("p16"), lit(0L), (a, x) => a + x))
      val sig = (0 until 16).map(i =>
        when(lit(16L) * element_at(col("p16"), i + 1) > col("s"),
          lit(1L << i)).otherwise(0L)).reduce(_ + _)
      val sigs = withP.select(col("doc_id"), sig.as("sig")).distinct()
      val dfre = sigs.groupBy("sig").agg(count(lit(1)).as("n_docs"))
      val kept = sigs.join(dfre.where(col("n_docs") <= cap), "sig")
        .select("doc_id", "sig")
      kept.as("a").join(kept.as("b"),
        col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 2)
        .orderBy("d1", "d2")
    }),

    // WAU STICKINESS — per week: active users, returning users (also
    // active the PREVIOUS week), and the return share: the
    // consecutive-week engagement gauge qz17's cohort matrix doesn't
    // give (cohorts pin users to their FIRST week; stickiness is
    // memoryless). Weeks are exact integer epoch-day div 7 (the qz17
    // rule); the (week, user) distinct bounds the shuffle at one row
    // per active-user-week.
    "qz34_stickiness" -> ((s, dir) => {
      val wk = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "div 7 AS BIGINT)").as("week"), col("user_id"))
        .distinct()
      val active = wk.groupBy("week").agg(count(lit(1)).as("n_active"))
      val ret = wk.join(
        wk.select((col("week") + 1L).as("week"), col("user_id")),
        Seq("week", "user_id"))
        .groupBy("week").agg(count(lit(1)).as("n_ret"))
      active.join(ret, Seq("week"), "left")
        .select(col("week"), col("n_active"),
          coalesce(col("n_ret"), lit(0L)).as("n_returning"))
        .withColumn("stickiness", col("n_returning").cast("double") /
          col("n_active").cast("double"))
        .orderBy("week")
    }),

    // PQ CODEBOOK TRANSFER — the generalization audit quantized indexes
    // need before a codebook trained on yesterday's corpus serves
    // today's: fit PQ on the in-sample HALF (vec_id % 2 = 0), measure
    // per-vector reconstruction error on BOTH halves through the SAME
    // native encode/ADC kernels qe8 serves queries with (the error of a
    // vector against its own codes IS the asymmetric distance to
    // itself). qe18's float discipline: per-vector error floors to
    // nano-unit BIGINTs, cross-row sums are exact integers, one double
    // division per output row. The out-of-sample minus in-sample mean
    // gap is the quantity (complements qe20's SQ8 error and qe21's
    // centroid drift, which audit the fit itself, not its transfer).
    "qe27_pq_transfer" -> ((s, dir) => {
      import graft.meos.NativeExpressions
      val emb = Tables.embeddings(s, dir)
      val key = s"$dir|pqtransfer|m=8|k=16"
      val cb = pqTransferCache.getOrElseUpdate(key,
        Similarity.pqCodebooks(emb.where(col("vec_id") % 2 === 0),
          m = 8, k = 16, iters = 5))
      lastPqTransferKey = Some(key)
      if (cb.isEmpty)
        s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "split STRING, n_vecs BIGINT, err_nano BIGINT, " +
              "mean_err DOUBLE"))
      else {
        val cbArr = cb.flatten.flatten.toArray
        val subDim = cb.head.head.length
        val kEff = cb.head.length
        emb
          .withColumn("codes", NativeExpressions.pqEncode(
            col("embedding"), cbArr, 8, subDim, kEff))
          .withColumn("err", NativeExpressions.pqAdc(col("embedding"),
            col("codes"), cbArr, 8, subDim, kEff))
          .select(when(col("vec_id") % 2 === 0, lit("in_sample"))
            .otherwise(lit("out_of_sample")).as("split"),
            floor(col("err") * 1e9d).cast("long").as("en"))
          .groupBy("split").agg(count(lit(1)).as("n_vecs"),
            sum("en").as("err_nano"))
          .withColumn("mean_err", col("err_nano").cast("double") /
            col("n_vecs").cast("double") / 1e9d)
          .orderBy("split")
      }
    }),

    // SHOT THUMBNAIL pick — the representative frame per (asset, shot):
    // max byte-diversity (qm7's distinct-byte gauge), ties to the
    // EARLIEST frame — what a media pipeline extracts for preview
    // grids after qm9 segments. The argmax rides qz21's window-free
    // lexicographic struct-max (max(ndist, −frame_no)) inside the SAME
    // (asset, shot) rollup that counts the shot — no second window
    // beyond qm9's one shot-id exchange.
    "qm12_shot_thumbnail" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      val withPrev = frameByteVectors(s, dir)
        .select(col("doc_id"), col("frame_no"), col("bv"))
        .withColumn("pv", lag(col("bv"), 1).over(w))
      val lp = least(size(col("bv")), size(col("pv")))
      val delta = aggregate(
        zip_with(slice(col("bv"), lit(1), lp),
          slice(col("pv"), lit(1), lp), (x, y) => abs(x - y)),
        lit(0L), (a0, x) => a0 + x)
      withPrev
        .withColumn("brk",
          when(col("pv").isNull || delta >= 520L, 1L).otherwise(0L))
        .withColumn("shot", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ndist", size(array_distinct(col("bv"))).cast("long"))
        .groupBy("doc_id", "shot").agg(
          count(lit(1)).as("n_frames"),
          max(struct(col("ndist").as("nd"),
            (-col("frame_no")).as("nf"))).as("pick"))
        .select(col("doc_id"), col("shot"), col("n_frames"),
          (-col("pick.nf")).as("thumb_frame"),
          col("pick.nd").as("thumb_ndist"))
        .orderBy("doc_id", "shot")
    }),

    // DAY-OF-WEEK forecast BACKTEST — seasonal-naive prediction (same-
    // dow mean of all history before the final week) scored against the
    // final week's actuals: the "is this feed behaving" check an
    // ingestion dashboard runs daily, and the baseline any fancier
    // forecaster must beat. Integer discipline: dow = epoch-day mod 7
    // (no timezone float), pred in milli-units via (sum·1000) div n,
    // absolute errors exact BIGINTs. Day-grain everywhere (the qz33
    // bounded-domain rule); the history rollup is 7 rows.
    "qz35_dow_backtest" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("c"))
      val d2 = daily.crossJoin(broadcast(daily.agg(max("day").as("mxd"))))
      val hist = d2.where(col("day") < col("mxd") - 6L)
        .select((col("day") % 7L).as("dow"), col("c"))
        .groupBy("dow").agg(sum("c").as("s"), count(lit(1)).as("n"))
      d2.where(col("day") >= col("mxd") - 6L)
        .select(col("day"), (col("day") % 7L).as("dow"),
          col("c").as("actual"))
        .join(hist, Seq("dow"))
        .withColumn("pred_milli", expr("(s * 1000) div n"))
        .withColumn("err_milli",
          abs(col("actual") * 1000L - col("pred_milli")))
        .select("day", "dow", "actual", "pred_milli", "err_milli")
        .orderBy("day")
    }),

    // SPELLING-VARIANT mining via the SymSpell deletion neighborhood —
    // the vocabulary-collapse operator OCR'd/noisy corpora need before
    // token statistics (qx14/qx20/qx49) mean anything: every edit-
    // distance-1 token pair shares a key in {term} ∪ {term minus one
    // char}, so candidates come from an EQUI-join on deletion keys
    // (keys per term = |term|+1, linear) instead of a vocab² scan, a
    // hot-key cap bounds the join fan-out (the qx21 band-cap
    // discipline), and exact levenshtein == 1 refines — both engines
    // implement classic unit-cost Levenshtein. Scale shape: vocabulary
    // grain (not corpus grain) end-to-end; the tf >= 2, len >= 4 gate
    // keeps hapax noise out of the pair set. NOTE on the fixture: the
    // driver's synthetic vocabulary is 31 clean words with NO ed-1
    // pairs, so the oracled result is legitimately EMPTY — the hash row
    // still checks the whole key-gen/join/refine pipeline agrees
    // cross-engine, and Round10Spec proves the same code mines planted
    // OCR-style variants.
    "qx73_spell_variants" -> ((s, dir) => {
      val keyCap = 64
      val vocab = docsWithToks(s, dir)
        .select(explode(col("toks")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .where(length(col("term")) >= 4 && col("tf") >= 2)
      val dels = transform(
        sequence(lit(1), length(col("term"))),
        p => concat(col("term").substr(lit(1), p - 1),
          col("term").substr(p + 1, length(col("term")))))
      val keyed = vocab.select(col("term"), col("tf"),
        explode(array_distinct(
          concat(array(col("term")), dels))).as("k"))
      val hot = keyed.groupBy("k").agg(count(lit(1)).as("nk"))
        .where(col("nk") > keyCap).select("k")
      val cold = keyed.join(hot, Seq("k"), "left_anti")
      cold.select(col("k"), col("term").as("t1"), col("tf").as("tf1"))
        .join(cold.select(col("k"), col("term").as("t2"),
          col("tf").as("tf2")), Seq("k"))
        .where(col("t1") < col("t2"))
        .select("t1", "t2", "tf1", "tf2").distinct()
        .where(levenshtein(col("t1"), col("t2")) === 1)
        .orderBy("t1", "t2")
    }),

    // diurnal activity profile — events per (hour-of-day, type) with
    // the hour's share: the seasonality audit batch schedulers and
    // anomaly baselines start from. Metadata-only scan, 24×|types|
    // cells, one broadcast of the 24 hour totals.
    "qz29_hourly_profile" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(hour(col("ts")).cast("long").as("hod"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("hod").agg(sum("n").as("nh"))
      cells.join(broadcast(tot), "hod")
        .select(col("hod"), col("event_type"), col("n"),
          (col("n").cast("double") / col("nh").cast("double"))
            .as("share"))
        .orderBy("hod", "event_type")
    }),

    // CODE-vs-PROSE detector — the curation gate that routes source
    // code out of (or into) a text mix: per doc, code-symbol count
    // (braces/brackets/semicolons), assignment count, indented-line
    // count, symbol density, and the flag. Char-class regex counts
    // only (Java ∩ RE2 semantics — the qx65 discipline), pure narrow
    // map in the scan projection.
    "qx74_code_detect" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sym = regexp_count(col("text"), lit("[{}\\[\\]();]"))
      val asg = regexp_count(col("text"), lit("="))
      val ind = regexp_count(col("text"), lit("\\n  "))
      docs.select(col("doc_id"),
        sym.cast("long").as("n_sym"),
        asg.cast("long").as("n_assign"),
        ind.cast("long").as("n_indent"),
        (sym.cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double"))
          .as("sym_density"))
        .withColumn("is_code",
          col("sym_density") > 0.01 && (col("n_assign") > 0 ||
            col("n_indent") > 0))
        .orderBy("doc_id")
    }),

    // RFM SEGMENTATION — the classic recency/frequency/monetary user
    // grid over purchases: each user scored 1-4 per metric by exact
    // quartile (ascending value — q1 = most recent / least frequent /
    // lowest spend), then the 4×4×4 segment rollup a growth dashboard
    // keys on. Scores come from the qx18/qz5 exact-HISTOGRAM rule —
    // cumulative user counts at distinct-VALUE grain, q = 1 +
    // ((cum_le − 1)·4) div n — so ties share a score deterministically
    // and no row-grain global window exists (the qz31 discipline);
    // the three score maps join back at value grain. All integers
    // (milli-unit spend, epoch-day recency) end to end.
    "qz36_rfm_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT)").as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
      val u = p.groupBy("user_id").agg(max("day").as("lastd"),
        count(lit(1)).as("freq"), sum("vm").as("mon"))
      val uu = u.crossJoin(broadcast(u.agg(max("lastd").as("maxd"))))
        .select(col("user_id"), (col("maxd") - col("lastd")).as("rec"),
          col("freq"), col("mon"))
      val n = broadcast(uu.agg(count(lit(1)).as("n")))
      def scoreMap(metric: String): DataFrame = {
        // GLOBAL-WINDOW BOUND (distinct-value): rec is day-span bounded;
        // freq/mon are milli-quantized spend histograms (qz31 posture —
        // coarsen the grid if a corpus ever makes them near-user-grain)
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        uu.groupBy(col(metric).as("v")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(w))
          .crossJoin(n)
          .select(col("v").as(metric),
            (lit(1L) + expr("((cum - 1) * 4) div n")).as(metric + "_q"))
      }
      uu.join(scoreMap("rec"), Seq("rec"))
        .join(scoreMap("freq"), Seq("freq"))
        .join(scoreMap("mon"), Seq("mon"))
        .groupBy("rec_q", "freq_q", "mon_q")
        .agg(count(lit(1)).as("n_users"), sum("freq").as("n_purchases"),
          sum("mon").as("monetary_milli"))
        .orderBy("rec_q", "freq_q", "mon_q")
    }),

    // FLESCH-KINCAID readability — the grade-level gauge a curation
    // stack runs next to the Gopher gate (qx75) and quality score
    // (qx7): words / sentences / syllable-proxy (vowel-group runs) per
    // doc, FK grade in exact centi-units via integer cross-division
    // (fk·100 = 39·(w/s) + 1180·(syl/w) − 1559, each ratio floored —
    // the metric IS the integer-division version, so both engines
    // agree bit-for-bit), rolled up per source. Regex classes live in
    // the Java ∩ RE2 subset (the qx65/qx74 rule), applied to the raw
    // text (no lower(): case folding is engine-flavored; the vowel
    // class carries both cases). One narrow map + one |sources| rollup.
    "qx78_readability" -> ((s, dir) => {
      val nw = greatest(
        regexp_count(col("text"), lit("[A-Za-z]+")).cast("long"), lit(1L))
      val ns = greatest(
        regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
      val sy = regexp_count(col("text"), lit("[aeiouyAEIOUY]+"))
        .cast("long")
      Tables.documents(s, dir)
        .select(col("source"), nw.as("n_words"), ns.as("n_sents"),
          sy.as("n_syl"))
        .withColumn("fk", expr("(39 * n_words) div n_sents + " +
          "(1180 * n_syl) div n_words - 1559"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum("fk").as("fk_centi_sum"),
          min("fk").as("fk_centi_min"),
          max("fk").as("fk_centi_max"))
        .withColumn("mean_fk", col("fk_centi_sum").cast("double") /
          col("n_docs").cast("double") / 100.0)
        .orderBy("source")
    }),

    // Z-ORDER LAYOUT PLANNER — the data-layout decision a 100 TB table
    // bakes in at write time: quantize two query dimensions (event day,
    // user bucket) to 8 bits, interleave them into a 16-bit Morton key,
    // assign rows to 16 target files by z-rank, and report each file's
    // per-dimension min/max envelope next to the natural (day-ordered)
    // layout's — the per-file area is exactly what min/max zone maps
    // prune on, so the audit prices the clustering choice. File ranks
    // come from the distinct-VALUE histogram rule (z has ≤ 65536
    // values, day is bounded — no row-grain global window); the Morton
    // fold is the same generated integer expression on both engines.
    "qz37_zorder_layout" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.events(s, dir).select(
        expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"),
        (col("user_id") % 256L).as("ub"))
      val mm = broadcast(base.agg(min("day").as("mind"),
        max("day").as("maxd"), count(lit(1)).as("n")))
      val ev = base.crossJoin(mm)
        .withColumn("xb",
          expr("((day - mind) * 255) div greatest(maxd - mind, 1)"))
        .withColumn("z", mortonCol(col("xb"), col("ub")))
      def layout(dim: String, label: String): DataFrame = {
        // GLOBAL-WINDOW BOUND (distinct-value): z ≤ 65536, day ≤ span days
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val files = ev.groupBy(col(dim).as("v"), col("n"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(w))
          .select(col("v").as(dim),
            expr("((cum - c) * 16) div n").as("file"))
        ev.join(files, Seq(dim))
          .groupBy("file").agg(count(lit(1)).as("n_rows"),
            min("day").as("min_day"), max("day").as("max_day"),
            min("ub").as("min_ub"), max("ub").as("max_ub"))
          .select(lit(label).as("layout"), col("file"), col("n_rows"),
            col("min_day"), col("max_day"), col("min_ub"), col("max_ub"),
            ((col("max_day") - col("min_day") + 1L) *
              (col("max_ub") - col("min_ub") + 1L)).as("area"))
      }
      layout("z", "zorder").unionAll(layout("day", "natural"))
        .orderBy("layout", "file")
    }),

    // PER-CHANNEL byte ENTROPY — the post-decode signal-complexity
    // gauge next to qm10's loudness: Shannon entropy (nats) of each
    // de-interleaved channel's sample-value distribution, flagging
    // constant/low-information channels a media pipeline drops before
    // feature extraction. The qx28 discipline exactly: integer counts
    // shuffle at (asset, channel, byte-value) grain (≤ 256 values), the
    // p·ln p fold runs in ascending value order on BOTH engines
    // (sort_array fold here, ORDER BY list fold there), one round-9
    // double at the end (+0.0 normalizes the −0.0 a constant channel
    // yields).
    "qm13_channel_entropy" -> ((s, dir) => {
      val pad = concat(col("bv"),
        array_repeat(lit(0L), lit(16) - size(col("bv"))))
      def samp(c: Int) = Seq(5, 8, 11, 14).map(p =>
        element_at(col("p16"), p + c))
      def chStruct(c: Int) = struct(lit(c.toLong).as("channel"),
        array(samp(c): _*).as("ss"))
      val n = col("n_samples").cast("double")
      frameByteVectors(s, dir)
        .select(col("doc_id"), pad.as("p16"))
        .select(col("doc_id"),
          explode(array(chStruct(0), chStruct(1), chStruct(2))).as("ch"))
        .select(col("doc_id"), col("ch.channel").as("channel"),
          explode(col("ch.ss")).as("v"))
        .groupBy("doc_id", "channel", "v").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "channel").agg(sum("c").as("n_samples"),
          count(lit(1)).as("n_distinct"),
          sort_array(collect_list(struct(col("v"), col("c")))).as("h"))
        .select(col("doc_id"), col("channel"), col("n_samples"),
          col("n_distinct"),
          (round(-aggregate(col("h"), lit(0.0), (a, x) =>
            a + (x.getField("c").cast("double") / n) *
              log(x.getField("c").cast("double") / n)), 9) + lit(0.0))
            .as("entropy"))
        .orderBy("doc_id", "channel")
    }),

    // BOT-REGULARITY detection — inter-event cadence per user: real
    // humans are bursty (high gap variance), scripted traffic ticks
    // (near-constant gaps), so flag users whose squared coefficient of
    // variation falls below 0.05 — the engagement-data hygiene filter
    // an analytics pipeline runs before qz16/qz17 trust their cohorts.
    // Exact integers: gaps in SECONDS (µs div 1e6 — g² of µs gaps would
    // overflow BIGINT at week-long gaps), population variance cross-
    // multiplied as n·Q − S² and the cv² test as 1000·(nQ − S²) <
    // 50·S²; one user-keyed window pass for the gaps, user-grain
    // rollup, ≥ 5 gaps support gate.
    "qz41_bot_regularity" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("pts", lag("ts", 1).over(w))
        .where(col("pts").isNotNull)
        .select(col("user_id"),
          expr("(unix_micros(ts) - unix_micros(pts)) div 1000000")
            .as("g"))
        .groupBy("user_id").agg(count(lit(1)).as("n_gaps"),
          sum("g").as("sg"), sum(col("g") * col("g")).as("qg"))
        .where(col("n_gaps") >= 5L && col("sg") > 0L)
        .withColumn("cv2_milli", expr(
          "(1000 * (n_gaps * qg - sg * sg)) div (sg * sg)"))
        .where(lit(1000L) * (col("n_gaps") * col("qg") -
          col("sg") * col("sg")) < lit(50L) * col("sg") * col("sg"))
        .select(col("user_id"), col("n_gaps"),
          expr("(sg * 1000) div n_gaps").as("mean_gap_milli_s"),
          col("cv2_milli"))
        .orderBy("user_id")
    }),

    // DAILY-COUNT AUTOCORRELATION (lags 1-7) — the seasonality
    // fingerprint behind qz35's dow backtest and qz38's anomaly gate: a
    // weekly cycle shows as an ACF spike at lag 7, feed decay as slow
    // positive decay at lag 1. Pearson r per calendar lag with the
    // GLOBAL mean/variance, fully cross-multiplied to integers —
    // r_k = (n²·Σxy − n·S·(Σa+Σb) + p·S²) / (n·(n·Σx² − S²)) over the
    // lag-k day pairs that both exist — so both engines divide the same
    // two exact BIGINTs once. Day-grain everywhere (calendar-bounded);
    // the lag join is an equi-join on day+k.
    "qz40_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val g = broadcast(daily.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx")))
      daily.withColumn("k", explode(sequence(lit(1L), lit(7L))))
        .join(daily.select((col("day")).as("rday"), col("x").as("y")),
          col("rday") === col("day") + col("k"))
        .groupBy("k").agg(count(lit(1)).as("np"),
          sum(col("x") * col("y")).as("sxy"),
          sum("x").as("sa"), sum("y").as("sb"))
        .crossJoin(g)
        .select(col("k"), col("np").as("n_pairs"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0L,
            (col("n") * col("n") * col("sxy") -
              col("n") * col("sx") * (col("sa") + col("sb")) +
              col("np") * col("sx") * col("sx")).cast("double") /
              (col("n") * (col("n") * col("sxx") -
                col("sx") * col("sx"))).cast("double"))
            .otherwise(lit(0.0)).as("acf"))
        .orderBy("k")
    }),

    // TRIANGLE COUNT / transitivity over the dup graph — the
    // clustering-structure gauge next to qx55's degree histogram and
    // qz8's PageRank: near-dup clusters are near-cliques (high
    // transitivity), while band-collision noise forms open wedges, so
    // 3T/W separates real duplicate mass from hash accidents. Pairs are
    // the PRODUCTION capped band join (same staging as qx55), kept in
    // d1<d2 orientation so each triangle (a<b<c) is counted exactly
    // once by one wedge join (a,b)+(b,c) closed by an (a,c) semi-join —
    // the standard oriented-edge-iterator shape; the band cap bounds
    // every node's degree, so wedge volume is cap-bounded, never
    // degree². Integers end to end, one double for the ratio.
    "qz39_triangle_count" -> ((s, dir) => {
      // pairs from the shared per-dir staged band-join fact (round 17);
      // the staged parquet is disk-stable, so the old lineage cut
      // (which existed to share the self-join across the 4 consumers
      // below) is no longer needed
      val pairs = stagedBandedPairs(s, dir)
      val deg = pairs.select(col("d1").as("v"))
        .union(pairs.select(col("d2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      val tri = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .join(pairs.select(col("d1").as("b"), col("d2").as("c")), "b")
        .join(pairs.select(col("d1").as("a"), col("d2").as("c")),
          Seq("a", "c"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      stats.crossJoin(pairs.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .where(col("n_edges") > 0L) // empty graph → empty result
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          when(col("n_wedges") > 0L,
            (lit(3L) * col("n_triangles")).cast("double") /
              col("n_wedges").cast("double"))
            .otherwise(lit(0.0)).as("transitivity"))
    }),

    // The seventh composed pipeline, and the first EMBEDDING one —
    // exact-duplicate collapse → semantic dedup → per-cell index
    // manifest, the curation chain an embedding store runs before
    // building its ANN index (the vector-side mirror of qp1's document
    // chain). Exact dups collapse on the raw embedding bytes (an
    // equi-join the chunked semDedup can legitimately under-merge —
    // identical vectors hash to different chunks — so the exact stage
    // adds real coverage, the qx1-before-LSH production order);
    // semantic dups come from the SAME cached qe11 fit (no second
    // k-means, no fit-cache clobber); the manifest prices the outcome
    // per IVF cell in vectors and bytes. One declarative plan: two
    // joins at vec_id/embedding grain, one |cells| rollup.
    "qp7_embedding_pipeline" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val key = Some(s"$dir|nlist=16|iters=5")
      val ex = emb.groupBy("embedding").agg(min("vec_id").as("ex_keep"))
      val sd = Similarity.semDedup(emb, 0.4, cacheKey = key)
      emb.select(col("vec_id"), col("embedding"),
        (size(col("embedding")) * 4L).cast("long").as("bytes"))
        .join(ex, Seq("embedding"))
        .join(sd.select(col("vec_id"), col("cell"), col("kept")),
          Seq("vec_id"))
        .withColumn("exact_drop", col("vec_id") =!= col("ex_keep"))
        .withColumn("sem_drop", !col("exact_drop") && !col("kept"))
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"),
          sum(when(col("exact_drop"), 1L).otherwise(0L))
            .as("n_exact_drop"),
          sum(when(col("sem_drop"), 1L).otherwise(0L)).as("n_sem_drop"),
          sum(when(!col("exact_drop") && !col("sem_drop"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(col("exact_drop") || col("sem_drop"), col("bytes"))
            .otherwise(0L)).as("bytes_saved"))
        .orderBy("cell")
    }),

    // kNN-GRAPH RECIPROCITY — the embedding-health gauge clustering and
    // semdedup pipelines check before trusting a neighborhood graph:
    // build each vector's top-3 in-cell neighbor list (ivfKnn with
    // queries = corpus, nprobe = 1 — the SAME shared engine and cached
    // fit as qe4, so no second k-means) and measure how many directed
    // edges are reciprocated (v ∈ NN(u) ∧ u ∈ NN(v)); hubness and
    // boundary noise show up as low reciprocity per cell. The
    // reciprocity check is one self-equi-join on the (u, v) edge key;
    // per-cell pair volume is Σ|cell|², bounded in production by the
    // qz1 cell-cap/derivedNlist discipline.
    "qe28_knn_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val key = Some(s"$dir|nlist=16|iters=5")
      val edges = Similarity.ivfKnn(emb, emb, 3, nlist = 16, nprobe = 1,
        cacheKey = key)
        .select(col("q_id").as("u"), col("n_id").as("v"))
      val ca = Similarity.cellAssignments(emb, nlist = 16, cacheKey = key)
      val rec = edges.join(
        edges.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      val cu = ca.select(col("vec_id").as("u"), col("cell"))
      ca.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        .join(edges.join(cu, "u").groupBy("cell")
          .agg(count(lit(1)).as("n_edges")), Seq("cell"), "left")
        .join(rec.join(cu, "u").groupBy("cell")
          .agg(count(lit(1)).as("n_recip")), Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_recip"), lit(0L)).as("n_recip"))
        .withColumn("recip_share", when(col("n_edges") > 0L,
          col("n_recip").cast("double") / col("n_edges").cast("double"))
          .otherwise(lit(0.0)))
        .orderBy("cell")
    }),

    // SEASONAL ANOMALY DAYS — the robust feed-health alarm next to
    // qz33's single changepoint and qz35's forecast error: a day is
    // anomalous when its event count deviates from its OWN day-of-week
    // cohort by more than 2.5 robust sigmas, with median/MAD instead of
    // mean/stddev so the outlier can't drag its own baseline (the qz5
    // discipline at day grain). Lower (type-1) medians keep everything
    // integer — the 2.5× test is the cross-multiplication 2·dev > 5·mad
    // — and the per-dow sorted lists ride the bounded day domain (the
    // qz33/qz35 rule: day grain is calendar-bounded, never corpus-
    // proportional). dow = epoch-day mod 7, no timezone float.
    "qz38_anomaly_days" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("cnt"))
        .withColumn("dow", col("day") % 7L)
      val med = daily.groupBy("dow")
        .agg(sort_array(collect_list("cnt")).as("cs"))
        .select(col("dow"),
          expr("element_at(cs, CAST((size(cs) + 1) div 2 AS INT))")
            .as("med"))
      val dev = daily.join(med, Seq("dow"))
        .withColumn("dev", abs(col("cnt") - col("med")))
      val mad = dev.groupBy("dow")
        .agg(sort_array(collect_list("dev")).as("ds"))
        .select(col("dow"),
          expr("element_at(ds, CAST((size(ds) + 1) div 2 AS INT))")
            .as("mad"))
      dev.join(mad, Seq("dow"))
        .where(lit(2L) * col("dev") > lit(5L) * col("mad"))
        .select("day", "dow", "cnt", "med", "mad", "dev")
        .orderBy("day")
    }),

    // LAST-TOUCH attribution — which upstream event type gets credit
    // for each purchase: the latest non-purchase event strictly before
    // it in the user's (ts, event_id)-ordered stream (the marketing
    // rollup the funnel qz16 and the interval joins qs8-qs11 circle
    // around). One user-keyed window pass (ignoreNulls last over the
    // preceding frame), purchases-only rollup at |event types| grain;
    // value credited in exact milli units (the qz21 discipline).
    "qz27_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        .orderBy("touch")
    }),

    // top-20 3-step event-type PATHS — the sequence-mining staple next
    // to the transition matrix (qz18, first-order): sliding windows of
    // three consecutive types per user's strict (ts, event_id) order,
    // counted corpus-wide. One user-keyed window shuffle (two leads in
    // one pass), then a types³-bounded rollup and a TakeOrdered top-k
    // — no per-user collect, no path explosion beyond the row count.
    "qz28_event_paths" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t2", lead("event_type", 1).over(w))
        .withColumn("t3", lead("event_type", 2).over(w))
        .where(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path")).limit(20)
    }),

    // frame byte-DIVERSITY — per sampled frame, the Simpson/Gini index
    // of its byte distribution (1 − Σ(c_b/n)²) and the distinct-byte
    // count: the compressibility proxy that flags blank/constant frames
    // (gini ≈ 0) vs noise (gini ≈ max) — the signal-stats member qm5's
    // energy/peak and qm6's deltas don't carry. Rational in the byte
    // counts (the qz22 no-transcendental rule). Scale shape: the byte
    // explode is a bounded ×frameLen row expansion of the frame grain;
    // both rollups key on (asset, frame) — linear, no pair term.
    "qm7_frame_gini" -> ((s, dir) => {
      val b = frameByteVectors(s, dir)
        .where(col("frame_len") > 0)
        .select(col("doc_id"), col("frame_no"), col("frame_len"),
          explode(col("bv")).as("b"))
        .groupBy("doc_id", "frame_no", "frame_len", "b")
        .agg(count(lit(1)).as("c"))
      b.groupBy("doc_id", "frame_no", "frame_len")
        .agg(count(lit(1)).as("n_distinct_bytes"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("doc_id"), col("frame_no"), col("frame_len"),
          col("n_distinct_bytes"),
          (lit(1.0d) - col("ss").cast("double") /
            (col("frame_len") * col("frame_len")).cast("double"))
            .as("gini"))
        .orderBy("doc_id", "frame_no")
    }),

    // REAL frame decode — closes the qm family's documented stub: the
    // toy fixed-layout format (byte 0 = version|flags nibbles, bytes
    // 1-2 = width/height codes, byte 3 reserved, bytes 4-15 = 3
    // INTERLEAVED channels) decoded per sampled frame by a native
    // codegen'd expression (NativeExpressions.frameDecode — one pass
    // over the raw bytes, no hex string, no UDF; HOF-parity pinned in
    // NativeExprSpec). Header fields + per-channel sum/max are exact
    // integers, so the twin recomputes them from hex slices. Short tail
    // frames zero-pad (mirrored). Scale shape: qm2's frame sampling
    // (substring slices in the scan projection) + a narrow map — blob
    // bytes never shuffle; the only exchange is the output order
    "qm8_frame_decode" -> ((s, dir) => {
      import graft.meos.NativeExpressions
      Multimodal.synthMedia(s, dir)
        .select(col("doc_id"), posexplode(
          Multimodal.sampleFrames(col("bytes"), frameLen = 16, stride = 4)))
        .toDF("doc_id", "frame_no", "frame")
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          NativeExpressions.frameDecode(col("frame")).as("d"))
        .select(col("doc_id"), col("frame_no"),
          element_at(col("d"), 1).as("version"),
          element_at(col("d"), 2).as("flags"),
          element_at(col("d"), 3).as("width"),
          element_at(col("d"), 4).as("height"),
          element_at(col("d"), 5).as("ch0_sum"),
          element_at(col("d"), 6).as("ch1_sum"),
          element_at(col("d"), 7).as("ch2_sum"),
          element_at(col("d"), 8).as("ch0_max"),
          element_at(col("d"), 9).as("ch1_max"),
          element_at(col("d"), 10).as("ch2_max"))
        .orderBy("doc_id", "frame_no")
    }),

    // SHOT segmentation over the frame stream — the temporal rollup the
    // qm6 deltas feed: a new shot opens at the first frame and wherever
    // the L1 byte delta to the previous frame reaches the threshold
    // (exact integer compare, no transcendental); per asset, shot count,
    // longest shot, and total frames. Scale shape: qm6's doc-keyed lag
    // window + a running-sum shot id on the SAME partitioning (one
    // exchange total), then (asset, shot)- and asset-grain rollups.
    "qm9_shot_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      val withPrev = frameByteVectors(s, dir)
        .select(col("doc_id"), col("frame_no"), col("bv"))
        .withColumn("pv", lag(col("bv"), 1).over(w))
      val lp = least(size(col("bv")), size(col("pv")))
      val delta = aggregate(
        zip_with(slice(col("bv"), lit(1), lp),
          slice(col("pv"), lit(1), lp), (x, y) => abs(x - y)),
        lit(0L), (a0, x) => a0 + x)
      val shots = withPrev
        .withColumn("brk",
          when(col("pv").isNull || delta >= 520L, 1L).otherwise(0L))
        .withColumn("shot", sum("brk").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "shot").agg(count(lit(1)).as("len"))
      shots.groupBy("doc_id").agg(
        count(lit(1)).as("n_shots"),
        max("len").as("longest_shot"),
        sum("len").as("n_frames"))
        .orderBy("doc_id")
    }),

    // MATRYOSHKA-truncation recall — how much ANN quality survives
    // cutting the embedding to its first 8 / 16 dimensions (the MRL
    // deployment question: shorter prefixes = smaller index + faster
    // scan, paid in recall). Exact top-10 at full dimension vs top-10
    // under each prefix, recall@10 per query. Probe set is the bounded
    // qe1 fence (vec_id < 20): corpus × probes work, never corpus².
    // Cosines are the same composed left-to-right double fold as the
    // qe-family twins; ties rank by n_id so both engines agree.
    "qe15_mrl_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 20)
      def topk(dim: Int): DataFrame = {
        def cut(c: org.apache.spark.sql.Column) =
          if (dim > 0) slice(c, 1, dim) else c
        val q = probes.select(col("vec_id").as("q_id"),
          cut(col("embedding")).as("qe"))
        val c = emb.select(col("vec_id").as("n_id"),
          cut(col("embedding")).as("ne"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("n_id"))
        // BROADCAST BOUND (query-anchors): 20 probe rows (vec_id < 20)
        c.crossJoin(broadcast(q))
          .where(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            ccos(col("qe"), col("ne")).as("cos"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 10)
          .select("q_id", "n_id")
      }
      val full = topk(0)
      def recallOf(dim: Int, name: String): DataFrame =
        full.join(topk(dim), Seq("q_id", "n_id"), "left_semi")
          .groupBy("q_id")
          .agg((count(lit(1)).cast("double") / lit(10.0)).as(name))
      probes.select(col("vec_id").as("q_id"))
        .join(recallOf(8, "recall_d8"), Seq("q_id"), "left")
        .join(recallOf(16, "recall_d16"), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("recall_d8"), lit(0.0)).as("recall_d8"),
          coalesce(col("recall_d16"), lit(0.0)).as("recall_d16"))
        .orderBy("q_id")
    }),

    // BENFORD first-digit audit — the fabricated-data smoke detector a
    // pipeline runs over money-like columns before trusting upstream
    // feeds (synthetic or keyed-in amounts flatten the leading-digit
    // curve; organic multiplicative growth follows log10(1+1/d)).
    // Exactness: the nine Benford probabilities are INTEGER ppm
    // literals (they sum to exactly 1,000,000 since the logs
    // telescope), first digit comes from the BIGINT-cents decimal
    // string — no float log anywhere, and the per-digit deviation
    // |1e6·n_d − ppm_d·N| plus its total stay BIGINT (< 2^63 to 1e9
    // rows × 1e6 ppm). Scale shape: digit extraction in the scan
    // projection, a 9-key rollup, two one-row broadcasts — no
    // corpus-grain shuffle at all.
    "qz42_benford" -> ((s, dir) => {
      val ppm = array(benfordPpm.map(lit): _*)
      val counts = Tables.orders(s, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("cents"))
        .where(col("cents") > 0L)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val withExp = counts
        .withColumn("benford_ppm", element_at(ppm, col("digit").cast("int")))
        .crossJoin(broadcast(counts.agg(sum("n").as("nt"))))
        .withColumn("obs_ppm", expr("n * 1000000 DIV nt"))
        .withColumn("dev",
          abs(col("n") * 1000000L - col("benford_ppm") * col("nt")))
      // unobserved digits still contribute their full Benford mass
      // (1e6 − Σ observed ppm)·N to the deviation — a corpus that only
      // ever emits one digit must score maximally suspicious
      withExp.crossJoin(broadcast(withExp.agg(sum("dev").as("sdev"),
          sum("benford_ppm").as("sppm"))))
        .select(col("digit"), col("n").as("n_orders"), col("obs_ppm"),
          col("benford_ppm"),
          expr("(sdev + (1000000 - sppm) * nt) DIV (2 * nt)")
            .as("tvd_ppm"))
        .orderBy("digit")
    }),

    // EVENT-TYPE co-occurrence LIFT — which behaviors travel together
    // at USER grain (set semantics, not sequence: qz18's transition
    // matrix orders adjacent events; this asks whether a user who ever
    // purchases also ever shares, regardless of order). lift(a,b) =
    // P(a,b)/(P(a)·P(b)) over the user universe — the basket-analysis
    // gauge that seeds qz16's funnel hypotheses. Scale shape: one
    // user-keyed distinct (corpus-proportional), a per-user type-set
    // self-join bounded by |types|² per user (types is a small closed
    // vocabulary), type-pair rollup, two broadcast marginals; integers
    // until the single lift division.
    "qz43_event_type_lift" -> ((s, dir) => {
      val ut = graft.Materialize.cut(Tables.events(s, dir)
        .select("user_id", "event_type").distinct())
      val tc = ut.groupBy("event_type").agg(count(lit(1)).as("ntyp"))
      val pairs = ut.as("a")
        .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("t1"),
          col("b.event_type").as("t2"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(tc.select(col("event_type").as("t1"),
          col("ntyp").as("n1"))), Seq("t1"))
        .join(broadcast(tc.select(col("event_type").as("t2"),
          col("ntyp").as("n2"))), Seq("t2"))
        .crossJoin(broadcast(ut.select("user_id").distinct()
          .agg(count(lit(1)).as("nu"))))
        .select(col("t1"), col("t2"), col("n_both"), col("n1"),
          col("n2"),
          ((col("n_both") * col("nu")).cast("double") /
            (col("n1") * col("n2")).cast("double")).as("lift"))
        .orderBy("t1", "t2")
    }),

    // MATTR — moving-average type-token ratio, the windowed lexical-
    // diversity score that fixes plain TTR's length bias (Covington &
    // McFall): TTR over every 25-token sliding window, averaged. Where
    // qx70's hapax rate and qx60's Heaps curve look corpus-wide, MATTR
    // is the PER-DOC diversity gate a curation pass thresholds on
    // (low MATTR = locally repetitive boilerplate even when global
    // vocabulary looks rich). Integer contract: Σ distinct-counts and
    // Σ window-lengths are exact BIGINTs, one integer milli division;
    // docs shorter than the window fall back to a single whole-doc
    // window (window length = Σ least(25, n−i+1), so the denominator
    // is always the true token mass scanned). Scale shape: windows
    // explode ×(n−24) per doc but stay inside the doc partition — a
    // narrow map + doc-grain rollup, no cross-doc shuffle beyond the
    // final doc-keyed agg.
    "qx79_mattr" -> ((s, dir) =>
      docsWithToks(s, dir)
        .select(col("doc_id"), col("toks"),
          size(col("toks")).cast("long").as("n"))
        .select(col("doc_id"), col("n"), col("toks"),
          explode(sequence(lit(1L),
            greatest(lit(1L), col("n") - 24L))).as("i"))
        .select(col("doc_id"), col("n"),
          expr("CAST(size(array_distinct(slice(toks, CAST(i AS INT), " +
            "25))) AS BIGINT)").as("d"),
          least(lit(25L), col("n") - col("i") + 1L).as("wl"))
        .groupBy("doc_id", "n")
        .agg(count(lit(1)).as("n_windows"), sum("d").as("sd"),
          sum("wl").as("swl"))
        .select(col("doc_id"), col("n").as("n_toks"), col("n_windows"),
          expr("sd * 1000 DIV swl").as("mattr_milli"))
        .orderBy("doc_id")),

    // EWMA FORECAST BACKTEST — does exponential smoothing beat the
    // naive carry-forward on daily event volume? The one-day-ahead
    // model-selection loop behind qz35's dow backtest, run EXACTLY:
    // α = 1/2 makes every weight a power of two, so the 20-term
    // trailing forecast is two BIGINTs (wsum = Σ x_j·2^(20−lag),
    // norm = Σ 2^(20−lag)) and the EWMA-vs-naive comparison
    // cross-multiplies — no float anywhere but none needed. The 2^20
    // head weight bounds wsum < 2^63 for daily counts to ~4e12; the
    // truncated tail weighs < 2^-20 of the head, below the milli
    // output grain. Scale shape: day-grain rollup first (calendar-
    // bounded — the qz38/qz40 discipline: windows and self-joins at
    // day grain are a few-hundred-row frame, fine on one partition),
    // then a banded self-join on row distance ≤ 20.
    "qz44_ewma_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), " +
          "DATE'1970-01-01') AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
        .withColumn("i",
          // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
          row_number().over(Window.orderBy("day")).cast("long"))
      val j = daily.select(col("i").as("j"), col("x").as("xj"))
      daily.join(j,
          col("j") >= col("i") - 20L && col("j") <= col("i") - 1L)
        .withColumn("wt",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(20 - (i - j) AS INT))"))
        .groupBy("day", "i", "x")
        .agg(sum(col("xj") * col("wt")).as("wsum"),
          sum("wt").as("norm"),
          max(when(col("j") === col("i") - 1L, col("xj"))).as("naive"))
        .select(col("day"), col("x").as("n_events"),
          expr("wsum * 1000 DIV norm").as("ewma_milli"),
          col("naive"),
          (abs(col("x") * col("norm") - col("wsum")) <
            abs(col("x") - col("naive")) * col("norm")).as("ewma_wins"))
        .orderBy("day")
    }),

    // CENTROID SILHOUETTE — the cluster-validity score for the shared
    // IVF fit (qe19 prices cell BALANCE; this prices cell SEPARATION):
    // per vector, a = cosine distance to its own centroid, b = distance
    // to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1] — the
    // centroid-based silhouette (a.k.a. simplified silhouette; the
    // classic pairwise form is corpus² and never runs at scale). Low
    // mean s in a cell says its vectors sit on a boundary — exactly
    // where qe11/qz1's semDedup under-merges and qe17's nprobe=1
    // recall dips, so this is the audit that picks nlist. Float
    // discipline: both cosines come from the SAME left-to-right fold
    // as every qe twin, s is one division, then floor(s·1e6) per ROW
    // makes the per-cell mean an exact integer sum (double sums across
    // an unordered agg would be partition-order-dependent; BIGINT
    // micro-units aren't). Scale: broadcast-centroid crossJoin + one
    // corpus-uniform vec-keyed window + cell rollup.
    "qe29_silhouette" -> ((s, dir) => {
      val sil = Similarity.cellAssignTop2(Tables.embeddings(s, dir),
        nlist = 16, cacheKey = Some(s"$dir|nlist=16|iters=5"))
      val denom = greatest(lit(1.0) - col("cos_own"),
        lit(1.0) - col("cos_next"))
      sil.withColumn("sm",
          floor(when(denom > 0.0,
            (col("cos_own") - col("cos_next")) / denom)
            .otherwise(lit(0.0)) * lit(1000000.0)).cast("long"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum("sm").as("sum_s_micro"))
        .select(col("cell"), col("n_vecs"), col("sum_s_micro"),
          (col("sum_s_micro").cast("double") /
            (col("n_vecs").cast("double") * lit(1000000.0)))
            .as("mean_sil"))
        .orderBy("cell")
    }),

    // SILENCE-RUN detection — per sampled frame, the run-length
    // structure of low-amplitude samples (byte < 33 in the synthetic
    // UTF-8-derived domain: space and control bytes — the signal
    // analog of silence between words): silent count, number of runs,
    // longest run. The gate a media pipeline uses to drop dead air /
    // blank spans the way qm10 flags clipped channels. Shape: NO
    // explode and NO window — the whole run-length state machine is a
    // single left fold over the 16-byte frame vector with its state
    // packed into one BIGINT (see silenceFoldSql), generated from one
    // template for both engines; frame staging is the shared qm5
    // projection (blob bytes never shuffle).
    "qm14_silence_runs" -> ((s, dir) =>
      frameByteVectors(s, dir)
        .withColumn("st", expr("aggregate(bv, CAST(0 AS BIGINT), " +
          s"(a, x) -> ${silenceFoldSql("a", "x", "DIV")})"))
        .select(col("doc_id"), col("frame_no"), col("frame_len"),
          expr("(st DIV 16384) % 32").as("n_silent"),
          expr("(st DIV 1024) % 16").as("n_runs"),
          expr("(st DIV 32) % 32").as("max_run"))
        .orderBy("doc_id", "frame_no")),

    // MANN-WHITNEY U — the NONPARAMETRIC two-sample test qz24's
    // t-style A/B gate can't replace when values are skewed or
    // heavy-tailed (ranks are robust; means aren't): do purchase
    // values stochastically dominate view values? Exact-integer rank
    // machinery at DISTINCT-VALUE grain (the qz31 histogram rule — the
    // ordered window runs over the bounded value domain, never row
    // grain): doubled average ranks keep tie blocks integer
    // (2·C_before + c + 1), the doubled U statistic is one BIGINT, and
    // the tie-corrected variance assembles from exact Σ(t³−t) with one
    // sqrt + one division at the end, the qm10 float rule. BIGINT
    // envelope: n·(n²−1) caps the z denominator at ~n³ — exact to
    // n ~ 2M rows; beyond that the test is asymptotic anyway and the
    // z feeds from the same exact integers.
    "qz45_mann_whitney" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("purchase", "view"))
        .select((col("event_type") === "purchase").as("is1"),
          floor(col("value") * 1000).cast("long").as("v"))
      val blocks = ev.groupBy("v").agg(count(lit(1)).as("c"),
        sum(when(col("is1"), 1L).otherwise(0L)).as("c1"))
      // GLOBAL-WINDOW BOUND (distinct-value): milli-quantized value blocks
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      blocks
        .withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
        .withColumn("r1x2",
          col("c1") * (lit(2L) * col("cb") + col("c") + 1L))
        .withColumn("t3t",
          col("c") * col("c") * col("c") - col("c"))
        .agg(sum("c1").as("n1"), sum(col("c") - col("c1")).as("n2"),
          sum("r1x2").as("sr1x2"), sum("t3t").as("ties"))
        .where(col("n1") > 0L && col("n2") > 0L)
        .select(col("n1"), col("n2"),
          expr("sr1x2 - n1*(n1+1)").as("u_x2"),
          // variance assembled factor-by-factor in DOUBLE — an n³
          // BIGINT would overflow past n ~ 2M (the 100× probe found
          // exactly that); the largest integer product kept exact is
          // n², and each CAST rounds identically in both engines.
          // Zero/negative variance (all-tied input) → z = 0, not 0/0.
          // Residual envelope: a SINGLE tie block above ~2M identical
          // milli-values would overflow its c³ term (the qx71/qz31
          // documented-envelope class).
          expr("CASE WHEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) " +
            "/ 12.0 * (CAST(n1+n2+1 AS DOUBLE) - " +
            "CAST(ties AS DOUBLE) / " +
            "CAST((n1+n2)*((n1+n2)-1) AS DOUBLE)) <= 0.0 THEN 0.0 " +
            "ELSE CAST(sr1x2 - n1*(n1+1) - n1*n2 AS DOUBLE) / " +
            "(2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) " +
            "/ 12.0 * (CAST(n1+n2+1 AS DOUBLE) - " +
            "CAST(ties AS DOUBLE) / " +
            "CAST((n1+n2)*((n1+n2)-1) AS DOUBLE)))) END").as("z"))
    }),

    // PARAPHRASE MINING — semantic-match × lexical-MISMATCH: pairs the
    // embedding space calls near-dups (cos ≥ 0.30) but 3-gram Jaccard
    // calls distinct (< 0.2) — rewordings, translations-of-the-same-
    // source, template refills. Exactly the pairs qx11's lexical
    // clusters MISS and qe3 alone can't interpret; the disagreement
    // between the two signals IS the deliverable (agreement = ordinary
    // near-dups, qz7's beat). Shape: candidates from the qe3 fenced
    // brute-force leg (the production swap-in is the cell-bounded
    // qe5/semDedup generator — same fence discipline as qe3), then
    // gram-intersection ONLY on candidate pairs (pair-bounded, never
    // corpus²); jaccard in integer milli; both docs must have ≥ 1
    // shingle (tiny docs have no lexical signal to disagree with).
    "qx80_paraphrase_mining" -> ((s, dir) => {
      val cand = Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir).where(col("vec_id") < 1000), 0.30)
      val g = graft.Materialize.cut(docsWithShingles(s, dir)
        .select(col("doc_id"),
          explode(array_distinct(col("sh"))).as("g")))
      val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("ng"))
      val inter = cand.select("i", "j")
        .join(g.select(col("doc_id").as("i"), col("g")), Seq("i"))
        .join(g.select(col("doc_id").as("j"), col("g")), Seq("j", "g"))
        .groupBy("i", "j").agg(count(lit(1)).as("n_int"))
      cand
        .join(inter, Seq("i", "j"), "left")
        .join(sizes.select(col("doc_id").as("i"), col("ng").as("gi")),
          Seq("i"))
        .join(sizes.select(col("doc_id").as("j"), col("ng").as("gj")),
          Seq("j"))
        .withColumn("n_int", coalesce(col("n_int"), lit(0L)))
        .withColumn("jac_milli",
          expr("n_int * 1000 DIV (gi + gj - n_int)"))
        .where(col("jac_milli") < 200L)
        .select(col("i"), col("j"), col("cos"), col("n_int"),
          col("jac_milli"))
        .orderBy("i", "j")
    }),

    // TABLE PROFILE — the ANALYZE primitive (per-column row/null/NDV/
    // min/max) every planner and data-quality gate feeds on, as a
    // first-class query over events: exact NDV (the CBO input), nulls,
    // and range, one output row per column with values canonicalized
    // to strings through their EXACT integer domains (ts → epoch
    // micros, value → floor-milli — min/max computed on the NATIVE
    // type first, then cast; a lexicographic min of strings would be
    // wrong). Shape: one column-pruned scan per leg — the posture a
    // 100 TB profiler wants anyway (each leg prunes to one column and
    // map-side-partials its count-distinct), rather than a single
    // 5-distinct EXPAND pass that multiplies every row ×5 into the
    // shuffle.
    "qz46_table_profile" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def leg(name: String,
              natural: org.apache.spark.sql.Column): DataFrame =
        ev.agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(natural)).as("n_null"),
          countDistinct(natural).as("n_distinct"),
          min(natural).cast("string").as("min_v"),
          max(natural).cast("string").as("max_v"))
          .select(lit(name).as("col_name"), col("n_rows"),
            col("n_null"), col("n_distinct"), col("min_v"), col("max_v"))
      Seq(
        leg("event_id", col("event_id")),
        leg("event_type", col("event_type")),
        leg("ts", unix_micros(col("ts"))),
        leg("user_id", col("user_id")),
        leg("value", floor(col("value") * 1000).cast("long")))
        .reduce(_ unionAll _)
        .orderBy("col_name")
    }),

    // SCENE-CHANGE score — chi-square distance between CONSECUTIVE
    // frames' 4-bin byte histograms, the classical shot-boundary
    // detector (qm9 segments on a raw byte delta; histogram chi² is
    // robust to small shifts that fool per-position deltas). Shape:
    // each frame's histogram is ONE packed-BIGINT fold (histFoldSql —
    // no explode, no window), consecutive frames meet in a
    // (doc, frame_no+1) equi-join that stays inside the doc partition,
    // and the per-bin chi² terms are integer-milli (mirrored div
    // truncation on both engines). Empty bins (a+b = 0) contribute 0.
    "qm15_frame_chi2" -> ((s, dir) => {
      val hf = frameByteVectors(s, dir)
        .withColumn("h", expr("aggregate(bv, CAST(0 AS BIGINT), " +
          s"(a, x) -> ${histFoldSql("a", "x", "DIV",
            (b, n) => s"shiftleft($b, $n)")})"))
        .select("doc_id", "frame_no", "h")
      def bin(c: String, b: Int) = s"(($c DIV ${1L << (5 * b)}) % 32)"
      val chi2 = (0 until 4).map { b =>
        val a = bin("ha", b); val c = bin("hb", b)
        s"CASE WHEN $a + $c > 0 THEN (1000 * ($a - $c) * ($a - $c)) " +
          s"DIV ($a + $c) ELSE 0 END"
      }.mkString(" + ")
      hf.select(col("doc_id"), col("frame_no"), col("h").as("ha"))
        .join(hf.select(col("doc_id"),
          (col("frame_no") - 1L).as("frame_no"), col("h").as("hb")),
          Seq("doc_id", "frame_no"))
        .select(col("doc_id"), col("frame_no"),
          expr(chi2).as("chi2_milli"))
        .withColumn("scene_change", col("chi2_milli") >= 1500L)
        .orderBy("doc_id", "frame_no")
    }),

    // PEAK CONCURRENCY — max simultaneously-open sessions per day, the
    // capacity-planning number (connection pools, rate limits, license
    // seats) none of the existing rollups produce: a SWEEP LINE over
    // session intervals (+1 at start, −1 at end+1µs), run as the
    // DISTRIBUTED prefix-sum pattern — change points bucket by DAY, the
    // running sum is computed inside each day partition, and the level
    // carried INTO each day is a second cumulative over the day-grain
    // totals (a calendar-bounded frame, the qz38/qz40 discipline). No
    // global-order window ever sees corpus-grain rows, so the sweep
    // scales: the only corpus-proportional shuffles are the session
    // rollup and the day-keyed change points. Days with zero change
    // points carry a flat level and emit no row (documented contract).
    "qz47_peak_concurrency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wUserRun = wUser.rowsBetween(Window.unboundedPreceding, 0)
      // cut: the session frame feeds BOTH delta legs (start and end
      // points) — without it the union duplicates the whole two-window
      // sessionization subtree
      val sess = graft.Materialize.cut(Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("new_s", when(lag("ts", 1).over(wUser).isNull ||
          unix_micros(col("ts")) -
            unix_micros(lag("ts", 1).over(wUser)) > 1800000000L, 1L)
          .otherwise(0L))
        .withColumn("sid", sum("new_s").over(wUserRun))
        .groupBy("user_id", "sid")
        .agg(min(unix_micros(col("ts"))).as("s0"),
          max(unix_micros(col("ts"))).as("s1")))
      val points = sess.select(col("s0").as("t"), lit(1L).as("d"))
        .unionAll(sess.select((col("s1") + 1L).as("t"),
          lit(-1L).as("d")))
        .groupBy("t").agg(sum("d").as("dd"))
        .withColumn("day", expr("t div 86400000000"))
      val wDay = Window.partitionBy("day").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
      val wCal = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = points.groupBy("day")
        .agg(sum("dd").as("dtot"), count(lit(1)).as("n_points"))
        .withColumn("carry", coalesce(sum("dtot").over(wCal), lit(0L)))
      points.withColumn("run", sum("dd").over(wDay))
        .groupBy("day").agg(max("run").as("mx"))
        .join(carry, Seq("day"))
        // the level CARRIED IN holds from midnight to the day's first
        // change point — it competes for the peak (a midnight-spanning
        // session whose only in-day event is its −1 endpoint)
        .select(col("day"), col("n_points"),
          greatest(col("carry"), col("carry") + col("mx"))
            .as("day_peak"))
        .orderBy("day")
    }),

    // CLUSTER-SIZE HISTOGRAM off the fully DISTRIBUTED connected-
    // components path — every prior CC consumer (qx11's clusters,
    // qz8's graph, qz14's purity) rides Dedup.connectedComponents with
    // its ≤200k-edge driver finish, which ALWAYS engages at fixture
    // scale, so the distributed min-label superstep loop (partition-
    // local union-find contraction → checksum-converged min
    // propagation — the path a 100 TB dup graph actually takes) had
    // spec coverage but no hash gate. driverFinishEdges = 0 forces the
    // superstep loop here, and the DuckDB recursive-CTE ground truth
    // makes the loop's labels (via the size histogram — stable under
    // label renaming, which min-labels don't need but sizes make the
    // invariant explicit) oracle-exact. Edges are qz39's production
    // staging (capped band join). Scale: each superstep is one
    // node-keyed shuffle; contraction collapses per-partition cliques
    // before the first exchange.
    "qz48_cc_histogram" -> ((s, dir) => {
      // pairs from the shared per-dir staged band-join fact (round 17);
      // the row's declared machinery — the forced distributed CC loop —
      // is unchanged
      val pairs = stagedBandedPairs(s, dir)
      Dedup.connectedComponents(pairs, driverFinishEdges = 0L)
        .groupBy("cluster").agg(count(lit(1)).as("n_members"))
        .groupBy("n_members").agg(count(lit(1)).as("n_clusters"))
        .orderBy("n_members")
    }),

    // CONTEXT-WINDOW PACKING — the GPT-style concat-and-chunk training
    // layout: documents concatenated in doc_id order, chunked into
    // 2048-token context windows; per window, how many docs touch it,
    // how many start in it, how many straddle a boundary, and the
    // token fill (= 2048 except the ragged tail). The numbers that
    // size a packing run (attention-mask fragmentation, cross-doc
    // leakage exposure, padding waste). Shape: the global token
    // prefix-sum runs as the TWO-LEVEL pattern — in-bucket running
    // sums (doc_id div 65536 buckets) + a bucket-grain carry — so no
    // task ever holds more than a bucket; each doc then explodes to
    // the windows it overlaps (rows ∝ tokens/2048, output grain). All
    // integer.
    "qx99_context_packing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val L = 2048L
      val withB = docsWithToks(s, dir)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
        .withColumn("b", expr("doc_id div 65536"))
      val wIn = Window.partitionBy("b").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      // GLOBAL-WINDOW BOUND (bucket-grain): one row per 65536 docs —
      // the carry window holds |docs|/65536 rows (15k at a billion
      // docs); a deeper corpus adds a third level, same pattern
      val wB = Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = withB.groupBy("b").agg(sum("n_toks").as("btot"))
        .withColumn("carry", coalesce(sum("btot").over(wB), lit(0L)))
      withB
        .withColumn("inb", coalesce(sum("n_toks").over(wIn), lit(0L)))
        .join(carry.select("b", "carry"), "b")
        .withColumn("cum0", col("carry") + col("inb"))
        .withColumn("w0", expr(s"cum0 div ${L}L"))
        .withColumn("w1", expr(s"(cum0 + n_toks - 1) div ${L}L"))
        .select(col("doc_id"), col("n_toks"), col("cum0"), col("w0"),
          col("w1"), explode(expr("sequence(w0, w1)")).as("window_id"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("w0") === col("window_id"), 1L).otherwise(0L))
            .as("n_starts"),
          sum(when(col("w0") =!= col("w1"), 1L).otherwise(0L))
            .as("n_crossers"),
          sum(least(col("cum0") + col("n_toks"),
            (col("window_id") + 1L) * L) -
            greatest(col("cum0"), col("window_id") * L)).as("n_tokens"))
        .orderBy("window_id")
    }),

    // INTRA-DOC REPETITION — Gopher's within-document duplication
    // gate at the 3-gram grain (qx62/qx11 are corpus-level; nothing
    // measured repetition INSIDE one document): per doc, total vs
    // distinct token-trigrams and the duplicate fraction in ppm — the
    // "same paragraph pasted 40 times" detector. Entirely row-local
    // (one fused native pass per doc — the codegen'd shingleHashes
    // 60-bit md5-prefix keys, no gram strings materialized; distinct
    // counts over the keys are cross-engine exact because the twin
    // computes the IDENTICAL key function, so even a collision
    // collides in both engines); no shuffle beyond the scan.
    "qx100_intra_dup" -> ((s, dir) =>
      docsWithToks(s, dir)
        .withColumn("h", graft.meos.NativeExpressions
          .shingleHashes(col("toks"), 3))
        .select(col("doc_id"),
          size(col("h")).cast("long").as("n_tri"),
          size(array_distinct(col("h"))).cast("long").as("n_distinct"))
        .withColumn("dup_ppm",
          expr("(1000000 * (n_tri - n_distinct)) div n_tri"))
        .orderBy("doc_id")),

    // CC LABEL TABLE off the distributed min-label loop (VERDICT r14
    // #5): qz48 hash-gates the loop's cluster SIZES (stable under
    // label renaming); this row gates the LABELS THEMSELVES — every
    // graph node with its min-reachable-doc_id cluster, the actual
    // table a dedup merge/survivorship pass joins against. Same
    // production staging as qz48 (capped band join), same
    // driverFinishEdges = 0 forcing the superstep loop; the DuckDB
    // ground truth is the recursive-CTE transitive closure, so every
    // individual label the distributed loop converges to is
    // oracle-exact, closing the dedup family's last spec-only core.
    "qx98_cc_labels" -> ((s, dir) => {
      // pairs from the shared per-dir staged band-join fact (round 17);
      // the row's declared machinery — the forced distributed CC loop —
      // is unchanged
      val pairs = stagedBandedPairs(s, dir)
      Dedup.connectedComponents(pairs, driverFinishEdges = 0L)
        .select(col("node").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    }),

    // PREFIX-FILTERED set-similarity join (PPJoin-lite) — the EXACT
    // Jaccard-threshold pair join, complementing the approximate LSH
    // family (qx19's bands can miss true pairs and admit false bands;
    // this misses NOTHING at τ): order each doc's distinct tokens
    // rarest-first (global df asc, token asc — the canonical prefix
    // order), index only each doc's first n − ceil(τ·n) + 1 tokens,
    // and the prefix-filtering theorem guarantees every pair with
    // J ≥ τ (τ = 0.95 — the fixture vocabulary is tiny, so looser
    // thresholds admit most of all pairs) collides on at least one
    // indexed token. The index is
    // SELF-REGULATING at scale: prefixes hold each doc's rarest
    // tokens, so boilerplate (high-df) tokens never enter the inverted
    // index — no hot-key cap needed, unlike the band join. The length
    // filter (1000·min ≥ 950·max, else J < τ provably) prunes
    // candidates Spark-side only — a no-op on the RESULT, so the twin
    // skips it. Integer contract: ceil via (950n+999) div 1000, the
    // τ test as exact cross-multiplication, jac reported in milli.
    "qx81_prefix_join" -> ((s, dir) => {
      // Set-collapsed PPJoin (round-11 rewrite; the round-10 shape ran
      // 33 s at sf0.1 and went QUADRATIC at the 100× probe — on a
      // replica-dense corpus even "rare" tokens carry df ≈ replica
      // count, so the prefix index's candidate volume scales with the
      // SQUARE of duplication). Jaccard depends only on the token
      // SETS, so the engine (a) collapses docs to distinct-set reps —
      // the qx11 exact-content pre-collapse discipline — and runs the
      // whole prefix/verify machinery at REP grain, where duplication
      // is gone by construction; then (b) expands rep-grain results
      // back to doc pairs (within-set pairs are J = 1000 identities),
      // which is OUTPUT-LINEAR — the only quadratic left is the true
      // result itself. Tokens get dense BIGINT ids ordered rarest-
      // first so the prefix is the HEAD of each rep's sorted id array,
      // candidates carry PPJoin's position bound, and verification is
      // one int-array intersect per rep pair. Dense ids come from a
      // DISTRIBUTED sorted zipWithIndex, not a global row_number window:
      // an unpartitioned window plans as ONE task holding the whole
      // vocabulary, and a web-corpus vocabulary (typos, URLs, numerals)
      // is 10⁸–10⁹ rows — the round-11 `weak` mark. zipWithIndex keeps
      // the sort's range partitioning (per-partition offsets from one
      // lightweight count job), so no task ever sees more than its
      // slice; the id order — (df asc, t asc), all PPJoin needs — and
      // the assigned ranks are identical to the window's.
      // NO in-memory cuts (VERDICT r15 directive, after three rounds
      // of selective driver-sidecar inflation the induced-pressure
      // A/B could not reproduce): the wide fp/base facts stage to
      // parquet once per dir (stagedPpjoin — the AH6 clusterStage
      // lever) and every consumer below reads disk-stable columnar
      // bytes; the block manager holds NOTHING for this query
      val (fp, base) = stagedPpjoin(s, dir)
      val sets = fp.groupBy("fid")
        .agg(min("doc_id").as("rep"), count(lit(1)).as("m"))
      val pre = base.select(col("fid"), col("n"),
        posexplode(slice(col("ts"), lit(1),
          (col("n") - expr("(950 * n + 999) div 1000") + 1L)
            .cast("int"))))
        .select(col("fid"), col("n"),
          (col("pos") + 1L).as("p"), col("col").as("tid"))
      val cand = pre.select(col("fid").as("f1"), col("tid"),
          col("n").as("n1"), col("p").as("p1"))
        .join(pre.select(col("fid").as("f2"), col("tid"),
          col("n").as("n2"), col("p").as("p2")), "tid")
        .where(col("f1") < col("f2") &&
          lit(1000L) * least(col("n1"), col("n2")) >=
            lit(950L) * greatest(col("n1"), col("n2")) &&
          lit(1950L) * (lit(1L) + least(col("n1") - col("p1"),
            col("n2") - col("p2"))) >=
            lit(950L) * (col("n1") + col("n2")))
        .select("f1", "f2", "n1", "n2").distinct()
      val repPairs = cand
        .join(base.select(col("fid").as("f1"), col("ts").as("t1")),
          Seq("f1"))
        .join(base.select(col("fid").as("f2"), col("ts").as("t2")),
          Seq("f2"))
        .withColumn("n_int",
          size(array_intersect(col("t1"), col("t2"))).cast("long"))
        .where(lit(1000L) * col("n_int") >=
          lit(950L) * (col("n1") + col("n2") - col("n_int")))
        .select(col("f1"), col("f2"), col("n_int"),
          expr("(1000 * n_int) div (n1 + n2 - n_int)").as("jac_milli"))
      // report at SET grain with pair MASS: materializing every doc
      // pair is output-quadratic in duplication (the 100× probe corpus
      // implies ~200M pairs) and nothing downstream wants it — a
      // dedup/merge decision consumes the set pair + multiplicities.
      // Cross rows: (rep1, rep2, m1·m2 pairs); within rows (d1 = d2 =
      // rep): C(m, 2) identity pairs at J = 1000.
      val cross = repPairs
        .join(sets.select(col("fid").as("f1"), col("rep").as("r1"),
          col("m").as("m1")), Seq("f1"))
        .join(sets.select(col("fid").as("f2"), col("rep").as("r2"),
          col("m").as("m2")), Seq("f2"))
        .select(least(col("r1"), col("r2")).as("d1"),
          greatest(col("r1"), col("r2")).as("d2"),
          (col("m1") * col("m2")).as("n_pairs"),
          col("n_int"), col("jac_milli"))
      val within = sets.where(col("m") >= 2L)
        .join(base.select(col("fid"), col("n")), Seq("fid"))
        .select(col("rep").as("d1"), col("rep").as("d2"),
          expr("(m * (m - 1)) div 2").as("n_pairs"),
          col("n").as("n_int"), lit(1000L).as("jac_milli"))
      cross.union(within).orderBy("d1", "d2")
    }),

    // PARETO FRONTIER (skyline) — per source, the docs no other doc of
    // the same source dominates on (token count, distinct-token
    // count): the "longest AND lexically richest" exemplar set a
    // curation pass keeps when it can't threshold either axis alone.
    // Dominance is the standard weak form (≥ in both, > in at least
    // one). Shape: the naive formulation is an O(n²) anti-join; the
    // sorted-sweep identity — a row is on the frontier iff its y beats
    // every STRICTLY-larger-x row's y (a per-source cummax over a
    // RANGE frame) and it tops its own x tie-block — turns the skyline
    // into two source-partitioned windows over an integer sort key. No
    // self-join, no cross-source traffic.
    "qz49_pareto_docs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = docsWithToks(s, dir).select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"))
      val wGx = Window.partitionBy("source").orderBy(col("n_toks").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy("source", "n_toks")
      m.withColumn("best_gx", max("n_types").over(wGx))
        .withColumn("best_eq", max("n_types").over(wEq))
        .where(coalesce(col("best_gx") < col("n_types"), lit(true)) &&
          col("n_types") === col("best_eq"))
        .select(col("source"), col("doc_id"), col("n_toks"),
          col("n_types"))
        .orderBy("source", "n_toks", "doc_id")
    }),

    // IVF CELL-MERGE PLAN — the index-MAINTENANCE operator the qe
    // family's audits feed into: qe19 gauges occupancy and qe29 scores
    // boundaries, but nothing yet DECIDES anything. This emits the
    // plan an index rebuild executes: every cell under 1/64 of the
    // corpus (1/4 of the uniform share at nlist=16, by exact integer
    // cross-multiplication) merges into its nearest-centroid neighbor
    // (argmax cosine over the k×k centroid pairs, ties to the smaller
    // cell). Empty cells never appear in the assignment rollup, so the
    // plan starts from the FULL centroid table and left-joins counts —
    // an empty cell is the premier merge candidate, not a missing row.
    // Scale: one corpus-grain assignment pass (broadcast centroids);
    // everything else is k- or k²-bounded.
    "qe30_cell_merge_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val key = Some(s"$dir|nlist=16|iters=5")
      val cents = Similarity.centroidTable(emb, nlist = 16,
        cacheKey = key)
      val counts = Similarity.cellAssignments(emb, nlist = 16,
        cacheKey = key)
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      val w = Window.partitionBy("cell")
        .orderBy(desc("ccos"), col("tgt"))
      val best = cents
        // BROADCAST BOUND (fit-state): nlist x dim centroid table
        .crossJoin(broadcast(cents.select(col("cell").as("tgt"),
          col("c_emb").as("t_emb"))))
        .where(col("cell") =!= col("tgt"))
        .withColumn("ccos", Similarity.cosine(col("c_emb"),
          col("t_emb")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("cell"), col("tgt"),
          floor(col("ccos") * 1e6).cast("long").as("cm"))
      best.join(counts, Seq("cell"), "left")
        .withColumn("n_vecs", coalesce(col("n_vecs"), lit(0L)))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("nt"))))
        .withColumn("do_merge", col("n_vecs") * lit(64L) < col("nt"))
        .select(col("cell"), col("n_vecs"),
          when(col("do_merge"), col("tgt")).otherwise(lit(-1L))
            .as("merge_into"),
          when(col("do_merge"), col("cm")).as("cos_micro"),
          col("do_merge"))
        .orderBy("cell")
    }),

    // CROSS-CHANNEL CORRELATION over the qm8/qm10 de-interleaved
    // channels — the stereo-coherence gauge: near-±1 says the channels
    // are copies (a mono asset stored as stereo — storage to reclaim),
    // near-0 says independent content. Pearson r per (asset, channel
    // pair), fully cross-multiplied to exact BIGINTs (n·Σxy − Σx·Σy
    // and the two variance terms), then ONE double division by the
    // sqrt product — the qm10/qz40 float rule. Scale shape: frame
    // slices + channel pairing in the scan projection (blob bytes
    // never shuffle), a bounded ×3 pair explode, one (asset,
    // pair)-keyed rollup.
    "qm16_channel_corr" -> ((s, dir) => {
      val pad = concat(col("bv"),
        array_repeat(lit(0L), lit(16) - size(col("bv"))))
      def samp(c: Int, p: Int) = element_at(col("p16"), p + c)
      def pairStruct(a: Int, b: Int) = {
        val t = Seq(5, 8, 11, 14).map(p => (samp(a, p), samp(b, p)))
        struct(lit(s"c${a}c$b").as("pair"),
          t.map(_._1).reduce(_ + _).as("sx"),
          t.map(_._2).reduce(_ + _).as("sy"),
          t.map(x => x._1 * x._2).reduce(_ + _).as("sxy"),
          t.map(x => x._1 * x._1).reduce(_ + _).as("sxx"),
          t.map(x => x._2 * x._2).reduce(_ + _).as("syy"))
      }
      frameByteVectors(s, dir)
        .select(col("doc_id"), pad.as("p16"))
        .select(col("doc_id"), explode(array(
          pairStruct(0, 1), pairStruct(0, 2), pairStruct(1, 2)))
          .as("q"))
        .groupBy(col("doc_id"), col("q.pair").as("pair"))
        .agg((count(lit(1)) * 4L).as("n_samples"),
          sum(col("q.sx")).as("sx"), sum(col("q.sy")).as("sy"),
          sum(col("q.sxy")).as("sxy"), sum(col("q.sxx")).as("sxx"),
          sum(col("q.syy")).as("syy"))
        .withColumn("num",
          col("n_samples") * col("sxy") - col("sx") * col("sy"))
        .withColumn("d1",
          col("n_samples") * col("sxx") - col("sx") * col("sx"))
        .withColumn("d2",
          col("n_samples") * col("syy") - col("sy") * col("sy"))
        .select(col("doc_id"), col("pair"), col("n_samples"),
          col("num"),
          when(col("d1") > 0L && col("d2") > 0L,
            col("num").cast("double") /
              (sqrt(col("d1").cast("double")) *
                sqrt(col("d2").cast("double"))))
            .otherwise(lit(0.0)).as("corr"))
        .orderBy("doc_id", "pair")
    }),

    // SCD2 (slowly-changing-dimension type 2) interval build — the
    // warehouse primitive that turns an event log into a versioned
    // dimension: per user, consecutive same-event_type runs collapse
    // into one version row with [valid_from, valid_to) in epoch
    // micros, valid_to = next version's valid_from − 1µs, NULL (and
    // is_current = true) on the open tail. The q08 consecutive-dedupe
    // discipline upgraded to full interval semantics — what a 100 TB
    // MERGE-into-dimension job computes before writing. Shape: two
    // user-partitioned window passes (run detection + the run-grain
    // lead), one user-grain rollup between them; nothing leaves the
    // user partition until the output sort.
    "qz50_scd2_intervals" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      val wVer = Window.partitionBy("user_id").orderBy("ver")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("chg", when(lag("event_type", 1).over(w).isNull ||
          col("event_type") =!= lag("event_type", 1).over(w), 1L)
          .otherwise(0L))
        .withColumn("ver", sum("chg").over(wRun))
        .groupBy("user_id", "ver")
        .agg(min("event_type").as("event_type"),
          min(unix_micros(col("ts"))).as("vf_us"))
        .withColumn("vt_us", lead("vf_us", 1).over(wVer) - 1L)
        .withColumn("is_current", col("vt_us").isNull)
        .select(col("user_id"), col("ver"), col("event_type"),
          col("vf_us"), col("vt_us"), col("is_current"))
        .orderBy("user_id", "ver")
    }),

    // THEIL-SEN robust trend — the slope estimate qz35/qz44's least-
    // squares-flavored backtests can't give when the daily series
    // carries outlier days (a crawler burst bends an OLS line; the
    // median of pairwise slopes shrugs it off; 29% breakdown point).
    // Exact-integer contract: slopes in milli-events/day via the
    // OFFSET trick — Spark's `div` truncates toward zero while
    // DuckDB's `//` floors, so every integer division in this repo
    // keeps its operands positive; adding OFF per day-gap unit before
    // the division and subtracting OFF after computes floor() in both
    // engines for any sign ((a + n·OFF) div n − OFF = floor(a/n) when
    // the shifted numerator is positive). Lower median (the (n+1)/2-th
    // order statistic) — no averaging, stays integer. Scale shape: the
    // pairwise join and both medians live at DAY grain — calendar-
    // bounded (10 years → 6.6M pairs), corpus-INDEPENDENT, so the
    // one-task sorts are fixed-size at any corpus scale; the only
    // corpus-grain pass is the day rollup (map-side partial).
    "qz51_theil_sen" -> ((s, dir) => {
      val OFF = 1000000000000000L // 1e15: |1000·Δx| < OFF·Δday for any real daily series
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val slopes = daily.as("a")
        .join(daily.as("b"), col("b.day") > col("a.day"))
        .select(expr(s"(1000 * (`b`.x - `a`.x) + ${OFF}L * (`b`.day - `a`.day)) " +
          s"div (`b`.day - `a`.day) - ${OFF}L").as("sl"))
      val med = slopes.agg(
          sort_array(collect_list(col("sl"))).as("l"))
        .select(element_at(col("l"),
            ((size(col("l")) + 1) / 2).cast("int")).as("slope_milli"),
          size(col("l")).cast("long").as("n_pairs"))
      daily.crossJoin(broadcast(med))
        .select(col("slope_milli"), col("n_pairs"),
          (lit(1000L) * col("x") - col("slope_milli") * col("day"))
            .as("ic"))
        .groupBy("slope_milli", "n_pairs")
        .agg(count(lit(1)).as("n_days"),
          sort_array(collect_list(col("ic"))).as("li"))
        .select(col("n_days"), col("n_pairs"), col("slope_milli"),
          element_at(col("li"),
            ((size(col("li")) + 1) / 2).cast("int"))
            .as("intercept_milli"))
        .orderBy("n_days")
    }),

    // STL-LITE seasonal decomposition — the additive split qz38's
    // anomaly gate implies but never materializes: daily volume =
    // trend (7-day CENTERED mean — a RANGE frame on the integer day
    // key, so a missing calendar day shrinks the window and the
    // incomplete-window rows surface NULL trend instead of a biased
    // one) + day-of-week seasonal (mean of the detrended series per
    // dow — the OFFSET trick again, detrended values go negative) +
    // remainder. Every division is an exact positive-operand integer
    // div; milli units throughout. Scale shape: one corpus-grain day
    // rollup, then three calendar-bounded day-grain windows.
    "qz52_stl_decompose" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = 1000000000000000L
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
      val wT = Window.orderBy("day").rangeBetween(-3L, 3L)
      val t = daily
        .withColumn("trend_milli",
          when(count(lit(1)).over(wT) === 7L,
            expr("(1000 * sum(x) OVER (ORDER BY day RANGE BETWEEN 3 " +
              "PRECEDING AND 3 FOLLOWING)) div 7")))
        .withColumn("detr", lit(1000L) * col("x") - col("trend_milli"))
        .withColumn("dow", pmod(col("day"), lit(7L)))
      val seas = t.where(col("detr").isNotNull)
        .groupBy("dow")
        .agg(expr(s"(sum(detr) + count(1) * ${OFF}L) div count(1) - ${OFF}L")
          .as("seas_milli"))
      t.join(broadcast(seas), Seq("dow"), "left")
        .select(col("day"), col("x").as("n_events"), col("trend_milli"),
          col("seas_milli"),
          (col("detr") - col("seas_milli")).as("resid_milli"))
        .orderBy("day")
    }),

    // NELSON-AALEN cumulative hazard — survival analysis for user
    // churn with RIGHT CENSORING done honestly: a user still active
    // near the corpus horizon hasn't churned, they're censored, and
    // dropping them (what a naive "avg lifetime" rollup does) biases
    // lifetime DOWN. Lifetime = days between a user's first and last
    // event; churn is observed iff the last event is ≥ 1 full day
    // before the horizon (the fixture is a high-frequency stream —
    // a silent day is churn; the threshold is a literal shared with
    // the twin). The NA estimator H(t) = Σ_{s≤t} d_s/n_s is a SUM of
    // per-day hazards — unlike Kaplan-Meier's product it stays exact
    // in integer micro units (each term floored independently, then
    // summed — deterministic in both engines). n_s (the risk set)
    // comes from a day-grain cumulative, not a per-user join. Scale
    // shape: one user-grain rollup (corpus-linear, partial-agg), one
    // one-row horizon broadcast, then day-grain windows — calendar-
    // bounded at any corpus scale.
    "qz53_nelson_aalen" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val DAY = 86400000000L
      val life = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("fu"),
          max(unix_micros(col("ts"))).as("lu"))
      val hor = broadcast(life.agg(max("lu").as("hz")))
      val byT = life.crossJoin(hor)
        .select(expr(s"(lu - fu) div ${DAY}L").as("t_days"),
          (col("hz") - col("lu") >= lit(DAY)).as("ev"))
        .groupBy("t_days")
        .agg(count(lit(1)).as("m"),
          sum(when(col("ev"), 1L).otherwise(0L)).as("d"))
      // GLOBAL-WINDOW BOUND (calendar): lifetime days ≤ span days (both)
      val wB = Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wC = Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, 0)
      byT
        .crossJoin(broadcast(byT.agg(sum("m").as("nt"))))
        .withColumn("n_at_risk",
          col("nt") - coalesce(sum("m").over(wB), lit(0L)))
        .where(col("d") > 0L)
        .withColumn("hazard_micro",
          expr("(1000000 * d) div n_at_risk"))
        .select(col("t_days"), col("n_at_risk"), col("d").as("n_events"),
          (col("m") - col("d")).as("n_censored_same_day"),
          col("hazard_micro"),
          sum("hazard_micro").over(wC).as("cumhaz_micro"))
        .orderBy("t_days")
    }),

    // KRUSKAL-WALLIS rank test — the k-group extension of qz45's
    // Mann-Whitney (nonparametric ANOVA): does day-of-week shift the
    // DISTRIBUTION of daily volume, not just its mean (qz24's t-gate
    // assumes normality; daily counts are skewed)? Doubled average
    // ranks keep tie blocks integer (the qz45 idiom); the per-group
    // R²/n term is floored to exact MICRO units via the split
    // (a div n)·1e6 + ((a mod n)·1e6) div n — no 1e6·a overflow, every
    // operand positive; Σ(t³−t) tie mass exact; the two H doubles come
    // from ONE shared formula string ([[kwHExpr]]/[[kwCExpr]]) so both
    // engines run the identical IEEE operation sequence. Scale shape:
    // one corpus-grain day rollup, then distinct-value- and group-
    // grain frames — all calendar-bounded.
    "qz54_kruskal_wallis" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
        .withColumn("dow", pmod(col("day"), lit(7L)))
      val vb = daily.groupBy("x").agg(count(lit(1)).as("c"))
      // GLOBAL-WINDOW BOUND (distinct-value): distinct daily counts ≤ span days
      val wv = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
      val dr = vb
        .withColumn("cb", coalesce(sum("c").over(wv), lit(0L)))
        .select(col("x"),
          (lit(2L) * col("cb") + col("c") + lit(1L)).as("dr"))
      val g = daily.join(dr, "x")
        .groupBy("dow").agg(count(lit(1)).as("ni"), sum("dr").as("r2"))
        .select(col("ni"), expr("((r2 * r2) div ni) * 1000000 + " +
          "(((r2 * r2) % ni) * 1000000) div ni").as("tm"))
      g.agg(sum("ni").as("n"), count(lit(1)).as("k"),
          sum("tm").as("sd"))
        .crossJoin(broadcast(
          vb.agg(sum(expr("c*c*c - c")).as("ties"))))
        .where(col("n").isNotNull && col("n") > 0L)
        .select(col("n").as("n_days"), col("k").as("n_groups"),
          col("sd").as("sum_d_micro"), col("ties").as("ties_cube"),
          expr(kwHExpr).as("h"),
          expr(s"CASE WHEN n > 1 AND ($kwCExpr) > 0.0 " +
            s"THEN ($kwHExpr) / ($kwCExpr) ELSE 0.0 END")
            .as("h_corrected"))
        .orderBy("n_days")
    }),

    // POISSON BOOTSTRAP confidence interval — the resampling method
    // that actually runs at 100 TB: classic bootstrap draws n rows WITH
    // replacement per replicate (a global sampling pass per replicate);
    // the Poisson(1) approximation gives every (row, replicate) an
    // independent weight, so all 64 replicates ride ONE corpus pass
    // and partial aggregation collapses the ×64 explode to 64 rows per
    // partition before the shuffle. Weights are deterministic md5
    // coins (u = md5₆₀(doc:b) mod 1e6) cut against the exact
    // Poisson(1) CDF in ppm ([[poissonPpm]] — floor(1e6·P(X≤k)),
    // Scala-printed into both engines). Replicate means in floored
    // milli; the 95% band is order statistics 2 and 63 of the 64
    // sorted replicate means (lower/upper 2.5% without interpolation).
    "qz55_poisson_bootstrap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
      val rep = docs
        .withColumn("b", explode(sequence(lit(0L), lit(63L))))
        .withColumn("u",
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("b").cast("string"))), 1, 15), 16, 10)
            .cast("long") % lit(1000000L))
        .withColumn("w", poissonPpm
          .map(t => when(col("u") >= t, 1L).otherwise(0L))
          .reduce(_ + _))
        .groupBy("b")
        .agg(sum(col("w") * col("n_chars")).as("swx"),
          sum("w").as("sw"))
        .where(col("sw") > 0L)
        .select(expr("(1000 * swx) div sw").as("mb"))
      val pt = broadcast(docs.agg(count(lit(1)).as("n_docs"),
        expr("(1000 * sum(n_chars)) div count(1)").as("mean_milli")))
      rep.agg(sort_array(collect_list(col("mb"))).as("l"))
        .crossJoin(pt)
        .where(col("n_docs") > 0L)
        .select(col("n_docs"), col("mean_milli"),
          size(col("l")).cast("long").as("n_replicates"),
          element_at(col("l"), 2).as("boot_lo_milli"),
          element_at(col("l"), 63).as("boot_hi_milli"))
        .orderBy("n_docs")
    }),

    // SSIM-LITE structural frame similarity — the perceptual
    // consecutive-frame comparator qm15's histogram chi² can't give
    // (histograms ignore WHERE bytes sit; SSIM's luminance/contrast/
    // structure product is position-aware): the standard
    // ((2μxμy+C1)(2σxy+C2)) / ((μx²+μy²+C1)(σx²+σy²+C2)) with n⁴
    // cleared out of both sides, so num and den are EXACT BIGINTs from
    // the five frame sums (n = 16 full frames only; C1·n² = 1792,
    // C2·n² = 15104 — the stated SSIM-lite constants) and the single
    // double division is the qm10 float rule. Scale shape: per-frame
    // sums in the scan projection, consecutive frames meet in the
    // (doc, frame_no+1) equi-join INSIDE the doc partition; blob bytes
    // never shuffle.
    "qm17_frame_ssim" -> ((s, dir) => {
      val agg0 = "CAST(0 AS BIGINT)"
      val st = frameByteVectors(s, dir)
        .where(col("frame_len") === 16L)
        .select(col("doc_id"), col("frame_no"), col("bv"),
          expr(s"aggregate(bv, $agg0, (a, x) -> a + x)").as("sx"),
          expr(s"aggregate(bv, $agg0, (a, x) -> a + x * x)").as("sxx"))
      val a = st.as("a")
      val b = st.select(col("doc_id"), col("frame_no").as("fb"),
        col("bv").as("bv2"), col("sx").as("sy"),
        col("sxx").as("syy")).as("b")
      a.join(b, col("a.doc_id") === col("b.doc_id") &&
          col("fb") === col("frame_no") + 1L)
        .select(col("a.doc_id").as("doc_id"), col("frame_no"),
          expr(s"aggregate(zip_with(bv, bv2, (x, y) -> x * y), " +
            s"$agg0, (a, x) -> a + x)").as("sxy"),
          col("sx"), col("sy"), col("sxx"), col("syy"))
        .select(col("doc_id"), col("frame_no"),
          expr("(2 * sx * sy + 1792) * " +
            "(2 * (16 * sxy - sx * sy) + 15104)").as("num"),
          expr("(sx * sx + sy * sy + 1792) * " +
            "((16 * sxx - sx * sx) + (16 * syy - sy * sy) + 15104)")
            .as("den"))
        .withColumn("ssim",
          col("num").cast("double") / col("den").cast("double"))
        .orderBy("doc_id", "frame_no")
    }),

    // ZERO-CROSSING RATE — the audio-style pitch/noisiness gauge next
    // to qm10's loudness and qm14's dead-air gate: samples centered at
    // 128, a crossing = consecutive samples changing sign. The whole
    // per-frame counter is ONE left fold with (crossings, prev-sign)
    // packed into a single BIGINT ([[zcrFoldSql]] — one template, both
    // engines; no explode, no window), then an asset-grain rollup:
    // each n-byte frame holds n−1 transitions, so the rate denominator
    // is Σ(len−1). Blob bytes never shuffle.
    "qm18_zero_crossings" -> ((s, dir) =>
      frameByteVectors(s, dir)
        .withColumn("st", expr("aggregate(bv, CAST(0 AS BIGINT), " +
          s"(a, x) -> ${zcrFoldSql("a", "x", "DIV")})"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames"),
          sum("frame_len").as("n_samples"),
          sum(expr("st DIV 4")).as("n_crossings"))
        .where(col("n_samples") > col("n_frames"))
        .withColumn("zcr_milli",
          expr("(1000 * n_crossings) div (n_samples - n_frames)"))
        .orderBy("doc_id")),

    // RAKE keyphrase extraction — the unsupervised keyword table a
    // corpus card / topic audit leads with: candidate phrases are
    // maximal stopword-free token runs (the EN stopword set shared
    // with langid, runs capped at 4 tokens), word score =
    // degree/frequency over phrase co-occurrence (RAKE's core: a word
    // that travels in LONG phrases outranks an equally-frequent loner),
    // phrase score = Σ member-word ratios in floored milli. Scale
    // shape: token-grain rows stay inside the doc partition (one
    // doc-keyed window for run ids), then a VOCABULARY-keyed rollup
    // and a phrase-keyed rollup — no corpus² anywhere; top-20 is a
    // TakeOrdered, not a global sort.
    "qx82_rake_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val stop = Seq("the", "and", "of", "to", "a")
      val tok = docsWithToks(s, dir)
        .select(col("doc_id"), posexplode(col("toks")))
        .toDF("doc_id", "pos", "t")
      val wp = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
      val runs = tok
        .withColumn("pid", sum(when(col("t").isin(stop: _*), 1L)
          .otherwise(0L)).over(wp))
        .where(!col("t").isin(stop: _*))
      val ph = runs.groupBy("doc_id", "pid")
        .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")), " ").as("phrase"),
          count(lit(1)).as("plen"))
        .where(col("plen") <= 4L)
      val words = graft.Materialize.cut(ph.select(col("doc_id"),
        col("pid"), col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("t")))
      val ws = words.groupBy("t")
        .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
        .select(col("t"), expr("(1000 * deg) div freq").as("rat"))
      words.join(ws, "t")
        .groupBy("doc_id", "pid", "phrase", "plen")
        .agg(sum("rat").as("sc"))
        .groupBy("phrase")
        .agg(min("plen").as("n_words"),
          count(lit(1)).as("n_occurrences"),
          min("sc").as("score_milli"))
        .orderBy(col("score_milli").desc, col("phrase"))
        .limit(20)
        .select(col("phrase"), col("n_words"), col("n_occurrences"),
          col("score_milli"))
    }),

    // EDIT-DISTANCE verification of LSH candidates — the refine step a
    // production near-dup pipeline runs between banding and the merge
    // decision: bands (qz48's capped staging) PROPOSE, a bounded
    // Levenshtein on the first 100 chars DISPOSES. The prefix bound is
    // the point — full-text edit distance is O(len²) per pair and
    // unpriceable at corpus scale, while a fixed 100-char window makes
    // every verification O(1); similarity = 1000 − 1000·dist/maxlen in
    // floored milli, ≥ 800 flags the near-dup. Pair volume is
    // cap-bounded by the band staging; the text join touches only
    // candidate ids.
    "qx83_editdist_verify" -> ((s, dir) => {
      val sig = graft.Materialize.cut(
        docsWithToks(s, dir).select(col("doc_id"),
          explode(Text.lshBandsFromToks(col("toks"), bands = 4))
            .as("band")))
      val pairs = Dedup.bandedPairs(sig).select("d1", "d2")
      val t = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 100).as("px"))
      // BANDED verification: near_dup needs dist <= maxlen/5 <= 20,
      // so the threshold form runs the O(len*k) diagonal band instead
      // of the full O(len^2) DP and reports -1 beyond it ("not a
      // near-dup, distance not priced") — the bounded-verify posture a
      // production pipeline takes; the twin caps its exact distance at
      // the same 20.
      pairs
        .join(t.select(col("doc_id").as("d1"), col("px").as("p1")), "d1")
        .join(t.select(col("doc_id").as("d2"), col("px").as("p2")), "d2")
        .select(col("d1"), col("d2"),
          levenshtein(col("p1"), col("p2"), 20).cast("long")
            .as("edit_dist"),
          greatest(length(col("p1")), length(col("p2"))).cast("long")
            .as("mx"))
        .select(col("d1"), col("d2"), col("edit_dist"),
          expr("CASE WHEN edit_dist >= 0 " +
            "THEN 1000 - (1000 * edit_dist) div mx ELSE -1 END")
            .as("sim_milli"))
        .withColumn("near_dup", col("sim_milli") >= 800L)
        .orderBy("d1", "d2")
    }),

    // TRIPLET-MARGIN audit — the contrastive-training health gauge
    // qe22's hard negatives feed: for each anchor, margin = cos(a,
    // nearest SAME-label) − cos(a, nearest DIFF-label); a corpus whose
    // margins crowd zero (or go negative) is one whose labels the
    // embedding can't separate, and per-label violation counts say
    // WHICH classes bleed. Anchors fenced to vec_id < 100 (the qe22
    // discipline — bench stays bounded at any SF); two broadcast-
    // anchor corpus passes (pos leg, neg leg), each a WindowGroupLimit
    // top-1, joined at anchor grain. Margins floored to micro PER ROW
    // (the qe29 rule: unordered double sums are partition-order-
    // dependent; floored BIGINTs aren't), label rollup with the
    // positive-operand OFFSET trick for the mean.
    "qe32_triplet_margins" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = 1000000000000L
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.where(col("vec_id") < 100)
        .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          col("label").as("a_label"))
      val w = Window.partitionBy("a_id").orderBy(desc("cos"), col("n_id"))
      def leg(same: Boolean) = emb
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
          col("label").as("n_label"))
        // BROADCAST BOUND (query-anchors): 100 anchor rows (vec_id < 100)
        .crossJoin(broadcast(anchors))
        .where(col("n_id") =!= col("a_id") &&
          (if (same) col("n_label") === col("a_label")
           else col("n_label") =!= col("a_label")))
        .withColumn("cos", Similarity.cosine(col("a_emb"), col("n_emb")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
      val pos = leg(same = true)
        .select(col("a_id"), col("a_label").as("label"),
          col("cos").as("cpos"))
      val neg = leg(same = false).select(col("a_id"), col("cos").as("cneg"))
      pos.join(neg, "a_id")
        .select(col("label"),
          floor((col("cpos") - col("cneg")) * lit(1000000.0))
            .cast("long").as("mm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_anchors"),
          sum("mm").as("sum_margin_micro"),
          sum(when(col("mm") < 200000L, 1L).otherwise(0L))
            .as("n_violations"))
        .withColumn("mean_margin_micro",
          expr(s"(sum_margin_micro + n_anchors * ${OFF}L) " +
            s"div n_anchors - ${OFF}L"))
        .select(col("label"), col("n_anchors"), col("sum_margin_micro"),
          col("mean_margin_micro"), col("n_violations"))
        .orderBy("label")
    }),

    // MMR DIVERSIFIED RE-RANK — the retrieval epilogue plain top-k
    // can't give: a near-dup-heavy corpus fills the top slots with
    // copies of one answer; maximal-marginal-relevance greedily picks
    // argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), trading relevance
    // against redundancy (λ = 0.7). The greedy loop is inherently
    // sequential in k, so it's UNROLLED (4 picks from an 8-candidate
    // shortlist) — each step is one bounded join against the selected
    // set, all at (queries × shortlist) grain: the corpus-grain work
    // is exactly one broadcast-query scan for the shortlist, the MMR
    // epilogue never touches corpus rows. Ties break to the smaller
    // candidate id; every float expression is one shared text.
    "qe31_mmr_rerank" -> ((s, dir) => {
      // NO in-memory cut (VERDICT r15 #1): the corpus-grain shortlist
      // scan stages to parquet once per dir (stagedMmrCand); the block
      // manager holds nothing for this query.
      //
      // ROUND-16 RESHAPE (plan size, results identical): the old 4-step
      // unroll re-planned the whole selected-set lineage inside every
      // subsequent step — the executed plan held 318 Exchanges / 156
      // broadcast joins for ≤32 rows of data, and the ~26 sequential
      // AQE/broadcast mini-jobs were the entire 5 s cost (telemetry:
      // cpu ≤4%, input_mb 0). The greedy argmax DECISIONS now follow
      // the suite's fit-collect discipline (kmeans/PQ/power-iteration:
      // bounded Spark-computed facts to the driver, selection logic
      // there): collect the staged shortlist (≤32 rows — anchor-top-k
      // bound) and its Spark-computed pairwise-cos table (≤32·8 rows),
      // replay the greedy loop over those numbers, and emit ONE small
      // declarative plan that recomputes every OUTPUT value (cos_q,
      // mmr) from the staged parquet — driver floats decide, Spark
      // computes. Arithmetic parity: the driver evaluates the same
      // `0.7 * cos - 0.3 * mx` IEEE expression the old codegen did,
      // ties break (mmr desc, n_id asc) exactly as the old window.
      val cand = stagedMmrCand(s, dir)
      val pcDf = cand.as("x")
        // BROADCAST BOUND (anchor-top-k): shortlist capped at 8 rows per q_id, 4 q_ids
        .join(broadcast(cand.select(col("q_id"), col("n_id").as("b"),
          col("n_emb").as("b_emb")).as("y")), Seq("q_id"))
        .where(col("n_id") =!= col("b"))
        .select(col("q_id"), col("n_id").as("a"), col("b"),
          Similarity.cosine(col("n_emb"), col("b_emb")).as("cab"))
      // COLLECT BOUND (anchor-top-k): ≤32 shortlist rows + ≤256 pair rows
      val candRows = cand.select("q_id", "n_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val cabRows = pcDf.collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
          r.getDouble(3))).toMap
      // greedy replay: picks(step, q_id, n_id) + the prior-selected
      // lists that parameterize the final plan's mx recompute
      val picks = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)] // (step, q_id, n_id)
      val priors = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)] // (step, q_id, b = prior pick)
      for ((qid, rows) <- candRows.groupBy(_._1).toSeq.sortBy(_._1)) {
        var selected = Vector.empty[Long]
        var remaining = rows.map(r => (r._2, r._3)).toVector // (n_id, cos)
        for (step <- 1 to 4 if remaining.nonEmpty) {
          val scored = remaining.map { case (nid, cos) =>
            val mmr =
              if (step == 1) cos
              else 0.7 * cos -
                0.3 * selected.map(b => cabRows((qid, nid, b))).max
            (nid, mmr)
          }
          val (bestId, _) = scored.minBy { case (nid, mmr) =>
            (-mmr, nid) // mmr desc, n_id asc — the old window's order
          }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
          picks += ((step.toLong, qid, bestId))
          selected.foreach(b => priors += ((step.toLong, qid, b)))
          selected :+= bestId
          remaining = remaining.filterNot(_._1 == bestId)
        }
      }
      import s.implicits._
      val pickDf = picks.toSeq.toDF("step", "q_id", "n_id")
      val priorDf = priors.toSeq.toDF("step", "q_id", "b")
      // one declarative pass recomputes the output values from the
      // staged parquet: cos_q off the shortlist row, mx off the pair
      // table restricted to each step's prior picks
      // BROADCAST BOUND (anchor-top-k): ≤16 picks, ≤24 prior rows
      val mx = pcDf.join(broadcast(priorDf), Seq("q_id", "b"))
        .groupBy("step", "q_id", "a").agg(max("cab").as("mx"))
        .select(col("step").as("m_step"), col("q_id").as("m_qid"),
          col("a"), col("mx"))
      // BROADCAST BOUND (anchor-top-k): mx ≤ |queries|·steps rows
      cand.join(broadcast(pickDf), Seq("q_id", "n_id"))
        .join(broadcast(mx), col("step") === col("m_step") &&
          col("q_id") === col("m_qid") && col("n_id") === col("a"),
          "left")
        .select(col("q_id"), col("step"), col("n_id"),
          col("cos").as("cos_q"),
          when(col("step") === 1L, col("cos"))
            .otherwise(expr("0.7 * cos - 0.3 * mx")).as("mmr"))
        .orderBy("q_id", "step")
    }),

    // TOP PRINCIPAL COMPONENT via power iteration — the anisotropy
    // DIRECTION behind the qe-family's anisotropy score: embedding
    // spaces collapse toward a dominant axis ("all vectors agree on a
    // few rogue dimensions"), and whitening/ABTT-style fixes need that
    // axis, not just its existence. The d×d covariance is never
    // materialized: each of the 5 iterations is ONE corpus pass
    // computing Σ (x−μ)·((x−μ)·v) — the per-row contribution floored
    // to micro BIGINTs (order-independent sums; the qe29 rule), with
    // only the d-vector normalization in driver floats. The fit
    // collects d-sized vectors (the k×dim-bounded fit-collect rule);
    // the QUERY is one scan + TakeOrdered(10 by |proj|): rank the
    // corpus' most extreme members along the learned axis. Twin embeds
    // the fitted (μ, v) literals and replays the same fold.
    "qe33_top_pc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      if (Tables.embeddings(s, dir).isEmpty)
        s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "rank BIGINT, vec_id BIGINT, label INT, proj DOUBLE"))
      else {
      val (mu, v) = fitTopPc(s, dir)
      lastTopPcKey = Some(dir)
      val top = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          pcProj(col("embedding"), mu, v).as("proj"))
        .orderBy(abs(col("proj")).desc, col("vec_id"))
        .limit(10)
      // GLOBAL-WINDOW BOUND (post-limit): 10 rows after TakeOrdered
      top.withColumn("rank", row_number().over(
          Window.orderBy(abs(col("proj")).desc, col("vec_id")))
          .cast("long"))
        .select(col("rank"), col("vec_id"), col("label"), col("proj"))
        .orderBy("rank")
      }
    }),

    // ABTT ISOTROPY REPAIR AUDIT — qe33 found the rogue axis; this
    // measures what removing it BUYS (the all-but-the-top post-process:
    // center, project out the top PC). Anisotropy gauge = mean |cos|
    // over a fenced pair sample; after-removal cosines come from the
    // IDENTITY c'·c' = c·c − (c·v)² (v unit-norm), so no projected
    // vectors materialize — three composed dots per pair, every mean a
    // per-pair floored-micro BIGINT sum. A healthy repair drops the
    // mean |cos| toward isotropy; the twin replays the same fitted
    // (μ, v) literals.
    "qe34_abtt_isotropy" -> ((s, dir) => {
      if (Tables.embeddings(s, dir).isEmpty)
        s.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "n_pairs BIGINT, mean_abs_cos_before_micro BIGINT, " +
              "mean_abs_cos_after_micro BIGINT"))
      else {
      val (mu, v) = fitTopPc(s, dir)
      lastTopPcKey = Some(dir)
      val muL = array(mu.map(lit): _*)
      def cen(c: Column) = zip_with(c, muL, (x, m) => x.cast("double") - m)
      def cdot(a: Column, b: Column) =
        aggregate(zip_with(cen(a), cen(b), (p, q) => p * q),
          lit(0.0), (x, y) => x + y)
      val emb = Tables.embeddings(s, dir).where(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding"),
          pcProj(col("embedding"), mu, v).as("p"))
      val pairs = emb.as("a").join(emb.select(col("vec_id").as("b_id"),
          col("embedding").as("b_emb"), col("p").as("pb")).as("b"),
          col("vec_id") < col("b_id"))
        .select(
          cdot(col("embedding"), col("b_emb")).as("dij"),
          cdot(col("embedding"), col("embedding")).as("dii"),
          cdot(col("b_emb"), col("b_emb")).as("djj"),
          col("p").as("pi"), col("pb").as("pj"))
        .select(
          floor(abs(col("dij") /
            (sqrt(col("dii")) * sqrt(col("djj")))) * lit(1000000.0))
            .cast("long").as("cb"),
          floor(abs((col("dij") - col("pi") * col("pj")) /
            (sqrt(col("dii") - col("pi") * col("pi")) *
              sqrt(col("djj") - col("pj") * col("pj")))) * lit(1000000.0))
            .cast("long").as("ca"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum("cb").as("sb"), sum("ca").as("sa"))
        .where(col("n_pairs") > 0L)
        .select(col("n_pairs"),
          expr("sb div n_pairs").as("mean_abs_cos_before_micro"),
          expr("sa div n_pairs").as("mean_abs_cos_after_micro"))
        .orderBy("n_pairs")
      }
    }),

    // CALENDAR GAP-FILL + FORWARD FILL — the spine-join every
    // time-series consumer needs before qz35/qz40/qz44 trust their day
    // arithmetic: a silent day is MISSING from the day rollup (not
    // zero), and carrying the last known value forward is the standard
    // repair for state-like series. Spine = explode(sequence(min_day,
    // max_day)) off a one-row bound agg; the fill is last(value,
    // ignoreNulls) over the day-ordered frame — DuckDB's
    // last_value(... IGNORE NULLS), calendar-bounded (qz47 rule).
    "qz56_forward_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("day").agg(sum("vm").as("v_milli"))
      val spine = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("day"), "left")
        .withColumn("filled_milli",
          last(col("v_milli"), ignoreNulls = true).over(w))
        .withColumn("is_gap", col("v_milli").isNull)
        .select(col("day"), col("v_milli"), col("filled_milli"),
          col("is_gap"))
        .orderBy("day")
    }),

    // GROWTH ACCOUNTING — the new/retained/resurrected split behind
    // every DAU chart (qz34's stickiness and qz17's cohorts both
    // presume it): per active (user, day), class = NEW (no prior
    // activity), RETAINED (active within the last 7 days) or
    // RESURRECTED (returning after a ≥ 7-day gap); plus the running
    // distinct-user count, which is exactly the cumulative of n_new —
    // no distinct-over-window needed. Scale shape: one (user, day)
    // distinct (corpus-proportional), the lag lives inside the USER
    // partition, day-grain rollup + calendar-bounded cumulative.
    "qz57_growth_accounting" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT)").as("day"))
        .distinct()
      val wU = Window.partitionBy("user_id").orderBy("day")
      val cls = ud.withColumn("prev", lag("day", 1).over(wU))
        .select(col("day"),
          when(col("prev").isNull, "new")
            .when(col("day") - col("prev") <= 7L, "retained")
            .otherwise("resurrected").as("cls"))
      val byDay = cls.groupBy("day")
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
          sum(when(col("cls") === "retained", 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
            .as("n_resurrected"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
      val wC = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      byDay.withColumn("cum_users", sum("n_new").over(wC))
        .select(col("day"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"), col("cum_users"))
        .orderBy("day")
    }),

    // LEAVE-ONE-OUT kNN LABEL ACCURACY — the end-to-end answer to "is
    // this embedding good enough to CLASSIFY with" (qe32 scores
    // margins; this scores the decision): each fenced anchor is
    // predicted by the majority label of its top-5 corpus neighbors
    // (self excluded), vote ties to the smaller label; per-label
    // accuracy exposes WHICH classes the space confuses. One
    // broadcast-anchor corpus pass, top-5 via WindowGroupLimit, then
    // anchor- and label-grain rollups — nothing corpus² anywhere.
    "qe35_knn_accuracy" -> ((s, dir) => {
      // Round-12 rebuild (VERDICT r11 item 3): the 5-NN retrieval is the
      // INDEXED leg — Similarity.ivfKnnPrenorm (IVF candidates + one
      // precomputed-norm dot per scored pair) sharing qe4's fit cache —
      // instead of the 100-anchor × corpus brute force. At covering
      // settings (nprobe = nlist) the indexed leg provably equals the
      // brute truth (Round12Spec pin); at the shipped nprobe = 8 the
      // metric is the accuracy of the indexed retrieval itself — the
      // number a production ANN-backed classifier actually ships — and
      // the twin mirrors the fitted centroids (qe4 rule). The 100-anchor
      // fence IS the eval-cost knob: the truth leg
      // (Similarity.bruteForceKnn) stays linear in corpus × fence.
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val anchors = emb.where(col("vec_id") < 100)
      val top5 = Similarity.ivfKnnPrenorm(emb, anchors, 5, nlist = 16,
        nprobe = 8, cacheKey = Some(s"$dir|nlist=16|iters=5"))
      val lab = emb.select(col("vec_id"), col("label"))
      val votes = top5
        .join(lab.select(col("vec_id").as("n_id"),
          col("label").as("n_label")), Seq("n_id"))
        // BROADCAST BOUND (query-anchors): vec_id < 100 literal anchor set
        .join(broadcast(lab.where(col("vec_id") < 100)
          .select(col("vec_id").as("q_id"), col("label").as("a_label"))),
          Seq("q_id"))
        .groupBy("q_id", "a_label", "n_label")
        .agg(count(lit(1)).as("v"))
      val wV = Window.partitionBy("q_id")
        .orderBy(desc("v"), col("n_label"))
      votes.withColumn("pick", row_number().over(wV))
        .where(col("pick") === 1)
        .select(col("a_label").as("label"),
          when(col("n_label") === col("a_label"), 1L).otherwise(0L)
            .as("ok"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_anchors"), sum("ok").as("n_correct"))
        .withColumn("acc_milli", expr("(1000 * n_correct) div n_anchors"))
        .orderBy("label")
    }),

    // COHORT LTV CURVES — the VALUE companion to qz17's retention
    // counts: per signup cohort (first-activity day), cumulative
    // purchase value by account age — the curve a data-budget decision
    // reads ("does week-2 value justify acquisition"). User-grain
    // first-day rollup, (cohort, age) rollup, then the cumulative
    // inside the COHORT partition — day²-grain, calendar-bounded.
    "qz58_cohort_ltv" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dayE = "CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
        "AS BIGINT)"
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr(dayE).as("day"),
          col("event_type"), floor(col("value") * 1000).cast("long")
            .as("vm"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("c_day"))
      val byAge = ev.join(cohort, "user_id")
        .where(col("event_type") === "purchase")
        .groupBy(col("c_day"), (col("day") - col("c_day")).as("age"))
        .agg(countDistinct("user_id").as("n_buyers"),
          sum("vm").as("v_milli"))
      val wC = Window.partitionBy("c_day").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      byAge.withColumn("cum_v_milli", sum("v_milli").over(wC))
        .select(col("c_day"), col("age"), col("n_buyers"),
          col("v_milli"), col("cum_v_milli"))
        .orderBy("c_day", "age")
    }),

    // KWIC COLLOCATES — what travels NEXT TO the corpus' dominant
    // content token (qx82 scores phrases; this profiles one term's
    // immediate company — the concordance view a corpus audit opens
    // first): target = top non-stopword by (count desc, token asc),
    // collocates = tokens at distance 1-2 on either side of each
    // occurrence, top 15 by (count desc, side, token). Token-grain
    // position join stays INSIDE the doc partition; the target is a
    // one-row broadcast.
    "qx84_kwic_collocates" -> ((s, dir) => {
      val stop = Seq("the", "and", "of", "to", "a")
      val tok = graft.Materialize.cut(docsWithToks(s, dir)
        .select(col("doc_id"), posexplode(col("toks")))
        .toDF("doc_id", "pos", "t"))
      // top-1 via TakeOrdered, not a rank window over the vocabulary
      // (the qx81 class, closed in the round-12 audit)
      val target = broadcast(tok.where(!col("t").isin(stop: _*))
        .groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("t")).limit(1)
        .select(col("t").as("target")))
      val occ = tok.join(target, col("t") === col("target"))
        .select(col("doc_id"), col("pos").as("tp"))
      val near = tok.join(occ, Seq("doc_id"))
        .where(col("pos") =!= col("tp") &&
          abs(col("pos") - col("tp")) <= 2)
        .select(when(col("pos") < col("tp"), "L").otherwise("R")
          .as("side"), col("t"))
      near.crossJoin(target)
        .groupBy("target", "side", "t")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("side"), col("t"))
        .limit(15)
        .select(col("target"), col("side"), col("t").as("collocate"),
          col("n"))
    }),

    // COMPOSED TIME-SERIES pipeline — forward-fill → centered trend →
    // residual → MAD anomaly gate as ONE declarative plan (the qp
    // discipline: qz56 + qz52 + qz38's gate composed the way a real
    // daily-health job runs them): a silent day is filled before the
    // trend so the window never averages over holes; anomalies are
    // 2·|resid| > 5·MAD over the lower-median of |resid| (integer
    // cross-multiplication, no float). Day-grain end-to-end after one
    // corpus rollup.
    "qp8_timeseries_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"),
          floor(col("value") * 1000).cast("long").as("vm"))
        .groupBy("day").agg(sum("vm").as("v_milli"))
      val spine = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days (both)
      val wF = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wT = Window.orderBy("day").rangeBetween(-3L, 3L)
      val filled = spine.join(daily, Seq("day"), "left")
        .withColumn("filled_milli",
          last(col("v_milli"), ignoreNulls = true).over(wF))
      val trended = filled
        .withColumn("trend_milli",
          when(count(lit(1)).over(wT) === 7L,
            expr("(1000 * sum(filled_milli) OVER (ORDER BY day RANGE " +
              "BETWEEN 3 PRECEDING AND 3 FOLLOWING)) div 7000")))
        .withColumn("resid_milli",
          col("filled_milli") - col("trend_milli"))
      val mad = broadcast(trended.where(col("resid_milli").isNotNull)
        .agg(sort_array(collect_list(abs(col("resid_milli")))).as("l"))
        .select(element_at(col("l"),
          ((size(col("l")) + 1) / 2).cast("int")).as("mad")))
      trended.crossJoin(mad)
        .select(col("day"), col("filled_milli"), col("trend_milli"),
          col("resid_milli"),
          when(col("resid_milli").isNotNull,
            lit(2L) * abs(col("resid_milli")) > lit(5L) * col("mad"))
            .otherwise(lit(false)).as("is_anomaly"))
        .orderBy("day")
    }),

    // FRAME FREEZE DETECTION — consecutive IDENTICAL frames (qm17
    // scores similarity; a stuck encoder emits bit-equal frames, and
    // run LENGTH is the signal): the qz50 run-detection discipline on
    // the frame fingerprint, all inside the doc partition. Output per
    // asset: frame count, distinct-run count, longest identical run,
    // and the frozen flag (a run of ≥ 3 identical frames).
    "qm19_freeze_runs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      val wRun = w.rowsBetween(Window.unboundedPreceding, 0)
      frameByteVectors(s, dir)
        .select(col("doc_id"), col("frame_no"),
          md5(concat_ws(",", col("bv"))).as("fp"))
        .withColumn("chg", when(lag("fp", 1).over(w).isNull ||
          col("fp") =!= lag("fp", 1).over(w), 1L).otherwise(0L))
        .withColumn("run", sum("chg").over(wRun))
        .groupBy("doc_id", "run").agg(count(lit(1)).as("rl"))
        .groupBy("doc_id")
        .agg(sum("rl").as("n_frames"), count(lit(1)).as("n_runs"),
          max("rl").as("max_freeze_run"))
        .withColumn("frozen", col("max_freeze_run") >= 3L)
        .orderBy("doc_id")
    }),

    // ---- §2.25 round-12 additions ---------------------------------------

    // CUSUM MEAN-SHIFT MONITOR — the SEQUENTIAL drift detector next to
    // qz33's single retrospective changepoint (CUSUM is what a daily
    // data-quality job actually runs: it accumulates small persistent
    // shifts a day-over-day diff never trips on). The classic
    // max(0, S+dev) recurrence is not a prefix sum — but its REFLECTION
    // identity is: S⁺_t = P_t − min(0, min_{j≤t} P_j) with P the plain
    // cumulative of deviations (and symmetrically for S⁻), so the whole
    // operator is two calendar-bounded windows instead of a sequential
    // fold. Exact integer micro throughout: μ = (10⁶·Σx) div n, slack
    // k = μ/4, alarm at 4μ (all positive-operand div — no float, no
    // dialect drift).
    "qz59_cusum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val st = broadcast(daily.agg(sum("x").as("sx"),
        count(lit(1)).as("nd")))
      val d = daily.crossJoin(st)
        .withColumn("mu_micro", expr("(1000000 * sx) div nd"))
        .withColumn("dev", col("x") * lit(1000000L) - col("mu_micro") -
          expr("mu_micro div 4"))
        .withColumn("devn", col("x") * lit(1000000L) - col("mu_micro") +
          expr("mu_micro div 4"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days (both)
      val wC = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      d.withColumn("p", sum("dev").over(wC))
        .withColumn("q", sum("devn").over(wC))
        .withColumn("s_pos_micro",
          col("p") - least(min("p").over(wC), lit(0L)))
        .withColumn("s_neg_micro",
          greatest(max("q").over(wC), lit(0L)) - col("q"))
        .select(col("day"), col("x"), col("s_pos_micro"),
          col("s_neg_micro"),
          (col("s_pos_micro") > lit(4L) * col("mu_micro")).as("alarm_up"),
          (col("s_neg_micro") > lit(4L) * col("mu_micro"))
            .as("alarm_down"))
        .orderBy("day")
    }),

    // INTER-EVENT GAP SPECTRUM — the per-user cadence histogram
    // (bot/burst detection reads this before any model): gaps from a
    // user-partitioned lag, bucketed to power-of-two seconds via the
    // integer-only length(bin(s)) = ⌊log₂ s⌋ + 1 trick (bucket 0 =
    // sub-second). Bucket-grain rollup — ~40 rows whatever the corpus;
    // shares in exact ppm.
    "qz60_interevent_hist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
        .withColumn("prev", lag("us", 1).over(wU))
        .withColumn("gap_s", expr("(us - prev) div 1000000"))
        .where(col("gap_s").isNotNull)
      val h = gaps
        .select(when(col("gap_s") <= 0, lit(0L))
          .otherwise(length(bin(col("gap_s"))).cast("long")).as("bucket"),
          col("gap_s"))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          min("gap_s").as("min_s"), max("gap_s").as("max_s"))
      val tot = broadcast(h.agg(sum("n").as("tn")))
      h.crossJoin(tot)
        .select(col("bucket"), col("n"), col("min_s"), col("max_s"),
          expr("(1000000 * n) div tn").as("share_ppm"))
        .orderBy("bucket")
    }),

    // DAILY AUTOCORRELATION (lags 1–7) — "does volume remember
    // yesterday / last week": deviations centered on the FLOOR-mean
    // (μ̂ = Σx div n — an integer, so deviations stay small BIGINTs and
    // Σdev·dev never leaves the exact envelope; the sub-1-count
    // centering bias is identical in both engines by construction),
    // then one day-grain self-join per lag via a 7-way explode. The
    // only doubles are the seven final num/den divisions.
    "qz61_acf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      val st = broadcast(daily.agg(sum("x").as("sx"),
        count(lit(1)).as("nd")))
      val c = graft.Materialize.cut(daily.crossJoin(st)
        .select(col("day"), (col("x") - expr("sx div nd")).as("cx")))
      val den = broadcast(c.agg(sum(col("cx") * col("cx")).as("dd")))
      val lagged = c.select(col("day").as("d2"), col("cx").as("cy"))
      c.withColumn("lag_d", explode(sequence(lit(1L), lit(7L))))
        .withColumn("d2", col("day") + col("lag_d"))
        .join(lagged, Seq("d2"))
        .groupBy("lag_d")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cx") * col("cy")).as("num"))
        .crossJoin(den)
        .select(col("lag_d"), col("n_pairs"), col("num"),
          col("dd").as("den"),
          (col("num").cast("double") / col("den").cast("double"))
            .as("acf"))
        .orderBy("lag_d")
    }),

    // JSON PROPS ROLLUP — the §2.8 JSON scalar surface on real data:
    // the events table's `props` column is a JSON object; extract the
    // numeric field with the path API (codegen'd get_json_object, no
    // UDF) and roll up per event type. At scale this is the scan-time
    // projection shape: the JSON parse runs inside the scan stage and
    // only (type, k) ever shuffles.
    "qz62_json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("k_min"),
          max("k").as("k_max"), sum("k").as("k_sum"),
          countDistinct("k").as("k_card"))
        .orderBy("event_type")),

    // PER-SOURCE BOILERPLATE WINDOWS — template detection (nav bars,
    // footers, license headers share 8-token windows across most of a
    // source's docs; near-dup pair ops can't see this because no DOC
    // pair is similar): 8-token shingle hashes at (source, window-type)
    // grain, boilerplate = window types present in ≥ half the source's
    // docs. Gram keys are the 60-bit md5 rule — no string shuffles;
    // rollups are type-grain (corpus-sublinear).
    "qx85_boilerplate_windows" -> ((s, dir) => {
      import graft.meos.NativeExpressions
      val docs = docsWithToks(s, dir).where(size(col("toks")) >= 8)
      val g = docs.select(col("source"), col("doc_id"),
        explode(array_distinct(
          NativeExpressions.shingleHashes(col("toks"), 8))).as("gh"))
      val srcN = broadcast(docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs")))
      g.groupBy("source", "gh").agg(count(lit(1)).as("ddf"))
        .join(srcN, "source")
        .groupBy("source")
        .agg(max("n_docs").as("n_docs"),
          count(lit(1)).as("n_window_types"),
          sum(when(col("ddf") * 2 >= col("n_docs"), 1L).otherwise(0L))
            .as("n_boiler_types"),
          sum(when(col("ddf") * 2 >= col("n_docs"), col("ddf"))
            .otherwise(0L)).as("boiler_doc_hits"))
        .orderBy("source")
    }),

    // BIGRAM COLLOCATIONS — adjacent-pair lift (the phrase-mining
    // primitive under RAKE's hood): P(b|a) in exact micro and the
    // symmetric lift (n_ab·N)/(n_a·n_b) in milli, min support 5,
    // top-20 via TakeOrdered. Unigram/bigram TYPE grain only. BIGINT
    // envelope: lift's 1000·n_ab·N must stay < 2⁶³ — at trillion-token
    // corpora compute lift at shard grain (p_b_a is overflow-free).
    "qx86_bigram_lift" -> ((s, dir) => {
      val toks = docsWithToks(s, dir)
      val bi = graft.Materialize.cut(toks.select(explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")))
      val uni = graft.Materialize.cut(
        toks.select(explode(col("toks")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("nt")))
      val tot = broadcast(uni.agg(sum("nt").as("ntok")))
      bi.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= 5)
        .join(uni.select(col("t").as("a"), col("nt").as("n_a")), "a")
        .join(uni.select(col("t").as("b"), col("nt").as("n_b")), "b")
        .crossJoin(tot)
        .select(col("a"), col("b"), col("n_ab"),
          expr("(1000000 * n_ab) div n_a").as("p_b_a_micro"),
          expr("(1000 * n_ab * ntok) div (n_a * n_b)").as("lift_milli"))
        .orderBy(desc("lift_milli"), col("a"), col("b"))
        .limit(20)
    }),

    // WINNOWING FINGERPRINTS (the MOSS scheme) — the document
    // fingerprinting standard for plagiarism/overlap detection:
    // 3-gram hashes, window w = 4, each window selects its RIGHTMOST
    // minimal hash, selections dedupe by position. Guarantee: any
    // shared run of ≥ w+k−1 tokens shares a fingerprint. Plan shape:
    // the argmin join is BLOCK-BANDED (a window spans ≤ 2 blocks of
    // size w, so each gram meets ≤ 2w windows — never a per-doc
    // quadratic), everything doc-partitioned. Output per doc:
    // fingerprint count + density (the twin mirrors the same selection
    // with a plain banded join — priceable at fixture scale).
    "qx87_winnowing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.meos.NativeExpressions
      val W = 4
      val pos = graft.Materialize.cut(docsWithToks(s, dir)
        .select(col("doc_id"),
          posexplode(NativeExpressions.shingleHashes(col("toks"), 3)))
        .toDF("doc_id", "pos", "h"))
      val wF = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, W - 1)
      val wins = pos
        .withColumn("wmin", min("h").over(wF))
        .withColumn("ng",
          count(lit(1)).over(Window.partitionBy("doc_id")))
        .where(col("pos") <= col("ng") - W)
        .select(col("doc_id"), col("pos").as("i"), col("wmin"),
          col("ng"))
      val winsB = wins.withColumn("blk", explode(array_distinct(array(
        expr(s"i div $W"), expr(s"(i + ${W - 1}) div $W")))))
      val posB = pos.withColumn("blk", expr(s"pos div $W"))
      val sel = winsB.join(posB, Seq("doc_id", "blk"))
        .where(col("pos").between(col("i"), col("i") + (W - 1)) &&
          col("h") === col("wmin"))
        .groupBy("doc_id", "i", "ng").agg(max("pos").as("p"))
        .select(col("doc_id"), col("ng"), col("p")).distinct()
      sel.groupBy("doc_id")
        .agg(max("ng").as("n_grams"), count(lit(1)).as("n_fps"))
        .select(col("doc_id"), col("n_grams"),
          (col("n_grams") - (W - 1)).as("n_windows"), col("n_fps"),
          expr(s"(1000 * n_fps) div (n_grams - ${W - 1})")
            .as("density_milli"))
        .orderBy("doc_id")
    }),

    // EMBEDDING NORM OUTLIERS — the first sanity gate an embedding
    // pipeline runs (collapsed or exploded norms flag a bad encoder
    // batch before any similarity math): row-local left-to-right
    // squared-norm fold floored to micro (order-fixed, cross-engine
    // exact), per-label type-1 quartiles from the distinct-value
    // histogram (the qx18 rule — no row-grain global order), Tukey
    // fences as integer cross-multiplications.
    "qe37_norm_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = graft.Materialize.cut(Tables.embeddings(s, dir)
        .select(col("label"),
          floor(Similarity.dot(col("embedding"), col("embedding")) *
            lit(1000000.0)).cast("long").as("m")))
      val hist = m.groupBy("label", "m").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("label").orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wc))
        .withColumn("total", sum("c").over(Window.partitionBy("label")))
      def q(pct: Int) =
        min(when(col("cum") * 100 >= col("total") * pct, col("m")))
      val fences = cum.groupBy("label")
        .agg(q(25).as("q1"), q(75).as("q3"))
        .select(col("label"), col("q1"), col("q3"),
          (col("q1") - expr("(3 * (q3 - q1)) div 2")).as("lo"),
          (col("q3") + expr("(3 * (q3 - q1)) div 2")).as("hi"))
      m.join(broadcast(fences), "label")
        .groupBy("label")
        .agg(count(lit(1)).as("n"), max("q1").as("q1_micro"),
          max("q3").as("q3_micro"),
          sum(when(col("m") < col("lo"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("m") > col("hi"), 1L).otherwise(0L)).as("n_high"))
        .orderBy("label")
    }),

    // kNN-GRAPH RECIPROCITY — embedding-geometry health at the decision
    // level (hubness collapses reciprocity long before accuracy moves):
    // over the 100-vector fence, the exact top-5 digraph's mutual-edge
    // rate per label. The fence is the knob (the qe35 rule); inside it
    // everything is 100×100-bounded.
    "qe38_knn_reciprocity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fence = graft.Materialize.cut(emb.where(col("vec_id") < 100))
      val g = graft.Materialize.cut(
        Similarity.bruteForceKnn(fence, fence, 5).select("q_id", "n_id"))
      val rec = g.join(
        g.select(col("n_id").as("q_id"), col("q_id").as("n_id")),
        Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("n_rec"))
      g.groupBy("q_id").agg(count(lit(1)).as("n_edges"))
        .join(rec, Seq("q_id"), "left")
        // BROADCAST BOUND (query-anchors): the 100-vector literal fence (vec_id < 100)
        .join(broadcast(fence.select(col("vec_id").as("q_id"),
          col("label"))), "q_id")
        .groupBy("label")
        .agg(sum("n_edges").as("n_edges"),
          sum(coalesce(col("n_rec"), lit(0L))).as("n_reciprocal"))
        .withColumn("recip_milli",
          expr("(1000 * n_reciprocal) div n_edges"))
        .orderBy("label")
    }),

    // CENTROID DRIFT / REBUILD AUDIT — the index-MAINTENANCE question
    // qe30's cell-merge plan doesn't answer: if the IVF quantizer were
    // REFIT today (here: on the even-id half, the deterministic stand-in
    // for "yesterday's corpus"), how much of each current cell would
    // scatter? Per serving cell: member count, the majority cell under
    // the refit, and the split fraction — the number that decides
    // whether a rebuild re-routes enough vectors to be worth the
    // re-encode. Both assignments are broadcast-centroid scans (the
    // refit side collapses map-side via max_by, the qx81 funnel rule);
    // the refit uses its OWN fit cache — routing it through the shared
    // centroid cache would clobber the lastFitKey qe4's twin reads.
    "qe36_centroid_drift" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val key = Some(s"$dir|nlist=16|iters=5")
      val full = Similarity.cellAssignments(emb, 16, cacheKey = key)
      lastQe36Keys = Some((key.get, dir))
      val halfC = halfCentroidsFor(s, dir).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("cell_b", "cb_emb")
      val b = emb.select(col("vec_id"), col("embedding"))
        // BROADCAST BOUND (fit-state): 16xdim refit centroids, a driver-built seq
        .crossJoin(broadcast(halfC))
        .withColumn("cc", Similarity.cosine(col("embedding"),
          col("cb_emb")))
        .groupBy("vec_id")
        .agg(max_by(col("cell_b"), struct(col("cc"), -col("cell_b")))
          .as("cell_b"))
      val cnt = full.join(b, "vec_id")
        .groupBy("cell", "cell_b").agg(count(lit(1)).as("c"))
      cnt.groupBy("cell")
        .agg(sum("c").as("n"),
          max_by(col("cell_b"), struct(col("c"), -col("cell_b")))
            .as("major_b"),
          max(struct(col("c"), -col("cell_b"))).getField("c")
            .as("n_major"))
        .withColumn("split_milli",
          expr("(1000 * (n - n_major)) div n"))
        .orderBy("cell")
    }),

    // GOPHER-STYLE REPETITION FILTERS — the intra-doc repetition
    // signals the MassiveText/Gopher curation stack gates on (and the
    // one quality axis the qx7-family length/stopword gates can't see):
    // per doc, the token share of the single most frequent bigram and
    // the token mass sitting in DUPLICATED trigrams (both milli,
    // capped at 1000 — overlapping occurrences can overcount).
    // Thresholds follow the published 0.18 / 0.30 (adapted to token
    // counts; Gopher measures characters). Gram keys are the 60-bit
    // md5 rule; every rollup is (doc, gram-TYPE) grain inside the doc
    // partition — corpus-linear.
    "qx88_gopher_repetition" -> ((s, dir) => {
      import graft.meos.NativeExpressions
      val d = docsWithToks(s, dir).select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"), col("toks"))
      val top2 = d.select(col("doc_id"), col("n_toks"),
          explode(NativeExpressions.shingleHashes(col("toks"), 2))
            .as("g"))
        .groupBy("doc_id", "n_toks", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_toks").agg(max("c").as("cmax"))
        .select(col("doc_id"),
          least(expr("(2000 * cmax) div n_toks"), lit(1000L))
            .as("top2gram_milli"))
      val tri = d.select(col("doc_id"), col("n_toks"),
          explode(NativeExpressions.shingleHashes(col("toks"), 3))
            .as("g"))
        .groupBy("doc_id", "n_toks", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_toks")
        .agg(sum(when(col("c") >= 2, lit(3L) * col("c")).otherwise(0L))
          .as("dupmass"))
        .select(col("doc_id"),
          least(expr("(1000 * dupmass) div n_toks"), lit(1000L))
            .as("dup3gram_milli"))
      top2.join(tri, "doc_id")
        .withColumn("flagged", col("top2gram_milli") > 180 ||
          col("dup3gram_milli") > 300)
        .orderBy("doc_id")
    }),

    // FRAME MOTION ENERGY — mean absolute inter-frame byte delta over
    // consecutive full frames (the cheap motion estimate that separates
    // static slates from live footage; qm19 only sees EXACT freezes,
    // qm17 scores similarity structure): lag inside the doc partition,
    // one integer zip fold per pair, exact milli of the 0–255 range.
    "qm21_frame_motion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy("frame_no")
      frameByteVectors(s, dir).where(col("frame_len") === 16)
        .withColumn("pv", lag("bv", 1).over(w))
        .where(col("pv").isNotNull)
        .withColumn("d", aggregate(zip_with(col("bv"), col("pv"),
          (a, b) => abs(a - b)), lit(0L), (acc, x) => acc + x))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum("d").as("sum_abs_delta"))
        .withColumn("motion_milli",
          expr("(1000 * sum_abs_delta) div (255 * 16 * n_pairs)"))
        .orderBy("doc_id")
    }),

    // EXACT (bit-identical) EMBEDDING DEDUP — the trivial-but-mandatory
    // pass BEFORE any semantic dedup (re-encoded shards and retried
    // batches produce exact copies; semDedup's cosine threshold should
    // never be spent on them): group BY THE VECTOR VALUE itself — an
    // exact-equality shuffle on the array, the same discipline as
    // qx1's text dedup — and report the corpus-level duplication card.
    // The one-row output groups on a constant so an empty corpus emits
    // zero rows (the suite-wide empty contract).
    "qe39_exact_dup_embeddings" -> ((s, dir) => {
      val g = Tables.embeddings(s, dir)
        .groupBy("embedding").agg(count(lit(1)).as("c"))
      g.groupBy(lit(1).as("one"))
        .agg(sum("c").as("n_vectors"), count(lit(1)).as("n_distinct"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L))
            .as("n_dup_vectors"),
          max("c").as("max_group"))
        .drop("one")
    }),

    // WEEKLY SEASONALITY STRENGTH — the one number qz52's decomposition
    // doesn't emit: F = max(0, 1 − Var(remainder)/Var(detrended)), the
    // standard "is the dow pattern real" gauge a forecasting job reads
    // before choosing a seasonal model. Same 7-day centered trend and
    // dow means as qz52 (OFFSET-trick divisions — detrended values go
    // negative and Spark's div truncates where DuckDB's // floors);
    // variances are exact Σdev² around OFFSET-trick means, one integer
    // ratio at the end. Day-grain end to end; constant-grouped so an
    // empty corpus emits zero rows.
    "qz63_seasonality_strength" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val OFF = 1000000000000000L
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
      // GLOBAL-WINDOW BOUND (calendar): day grain, ≤ span days
      val wT = Window.orderBy("day").rangeBetween(-3L, 3L)
      val t = daily
        .withColumn("nw", count(lit(1)).over(wT))
        .withColumn("sw", sum("x").over(wT))
        .where(col("nw") === 7)
        .select(col("day"), pmod(col("day"), lit(7L)).as("dow"),
          (col("x") * 1000L - expr("(1000 * sw) div 7"))
            .as("detr_milli"))
      val seas = t.groupBy("dow")
        .agg(count(lit(1)).as("nd"), sum("detr_milli").as("sd"))
        .select(col("dow"),
          (expr(s"(sd + nd * ${OFF}L) div nd") - lit(OFF))
            .as("seas_milli"))
      val r = graft.Materialize.cut(t.join(broadcast(seas), "dow")
        .select(col("detr_milli"),
          (col("detr_milli") - col("seas_milli")).as("rem_milli")))
      val means = broadcast(r.groupBy(lit(1).as("one"))
        .agg(count(lit(1)).as("n"), sum("detr_milli").as("sdt"),
          sum("rem_milli").as("srm"))
        .select(col("n"),
          (expr(s"(sdt + n * ${OFF}L) div n") - lit(OFF)).as("mdt"),
          (expr(s"(srm + n * ${OFF}L) div n") - lit(OFF)).as("mrm")))
      r.crossJoin(means)
        .select(col("n"),
          ((col("detr_milli") - col("mdt")) *
            (col("detr_milli") - col("mdt"))).as("d2"),
          ((col("rem_milli") - col("mrm")) *
            (col("rem_milli") - col("mrm"))).as("r2"))
        .groupBy("n")
        .agg(sum("d2").as("ss_detr"), sum("r2").as("ss_rem"))
        .select(col("n").as("n_days"), col("ss_detr"), col("ss_rem"),
          when(col("ss_detr") > 0,
            greatest(lit(0L),
              lit(1000L) - expr("(1000 * ss_rem) div ss_detr")))
            .otherwise(lit(0L)).as("strength_milli"))
    }),

    // ENGAGEMENT-DEPTH DISTRIBUTION — how many users were active on
    // exactly k distinct days (the histogram-of-histograms a
    // stickiness model fits; qz34's WAU ratio is one point of this
    // curve): user-grain distinct-day counts, then a k-grain rollup —
    // bounded by the calendar span however many users exist.
    // SIGN-BIT QUANTIZED ANN — the 4th compression leg of the similarity
    // family (SQ8 qe10 = 4×, PQ qe8 = 32×; sign quantization = 64× for
    // this corpus: ONE bit per dimension, the 64-dim vector becomes two
    // 32-bit signatures in two BIGINTs). Candidate generation is a
    // popcount-Hamming scan over 16 bytes/vector (the narrow pass a
    // 100 TB index can afford to run exhaustively), top-32 by
    // (hamming, n_id) shortlist, exact-cosine re-rank to top-5. Packing
    // is 2×32 bits, not 1×64 — DuckDB's `<<` refuses shift 63 into the
    // sign bit, and the split keeps both twins in positive-BIGINT land.
    "qe40_sign_ann" -> ((s, dir) =>
      signAnnTop5(s, dir).orderBy("q_id", "rank")),

    // SIGN-ANN ACCURACY — the qe35/qe17 discipline for the new leg:
    // per anchor, how many of the exact cosine top-5 does the
    // Hamming-shortlisted sign index recover? Exact recall in ppm —
    // the number that decides whether 64× compression is shippable
    // for a given corpus.
    "qe41_sign_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ann = signAnnTop5(s, dir)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 20), 5)
        .select("q_id", "n_id")
        .join(ann, Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall_ppm", expr("(1000000 * n_hits) div 5"))
        .orderBy("q_id")
    }),

    // TOKEN CHUNKER ACCOUNTING — the RAG/pretraining text splitter as a
    // lake-wide op: fixed 64-token windows at stride 48 (16-token
    // overlap), chunk starts at 0, 48, 96, … < n_toks, last chunk
    // truncated. The chunk COUNTS and duplicated-token mass (what the
    // overlap costs the token budget) per source — all exact integer
    // arithmetic; the chunk enumeration itself is a row-local HOF over
    // sequence(), so the op is one narrow map + an enum-grain rollup
    // (nothing corpus-proportional ever shuffles).
    "qx91_token_chunking" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n"))
        .where(col("n") >= 1)
        .withColumn("n_chunks", expr("(n + 47) div 48"))
        .withColumn("chunk_toks", expr(
          "aggregate(sequence(0L, n_chunks - 1), CAST(0 AS BIGINT), " +
            "(a, k) -> a + least(CAST(64 AS BIGINT), n - k * 48))"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"),
          sum("n_chunks").as("n_chunks"),
          sum("chunk_toks").as("chunk_toks"))
        .withColumn("overlap_ppm",
          expr("(1000000 * (chunk_toks - n_toks)) div n_toks"))
        .orderBy("source")),

    // COHORT RETENTION TRIANGLE — the week-cohort × age retention
    // matrix (qz58's LTV curves are the value view; this is the
    // classic activity view every growth dashboard leads with): cohort
    // = a user's first active epoch-week, activity at (cohort, age)
    // grain, retention as exact ppm of the cohort's size. Two
    // user-grain aggregates + one calendar-bounded rollup; the (user,
    // week) distinct is the only corpus-grain shuffle.
    "qz67_retention_triangle" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT) div 7").as("wk"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min("wk").as("c_wk"))
      val act = uw.join(cohort, "user_id")
        .groupBy(col("c_wk"), (col("wk") - col("c_wk")).as("age"))
        .agg(count(lit(1)).as("n_active"))
      val size = cohort.groupBy("c_wk").agg(count(lit(1)).as("n_cohort"))
      act.join(size, "c_wk")
        .select(col("c_wk").as("cohort_wk"), col("age"), col("n_active"),
          col("n_cohort"),
          expr("(1000000 * n_active) div n_cohort").as("ret_ppm"))
        .orderBy("cohort_wk", "age")
    }),

    // COMPOSED PIPELINE #9 — dedup THEN chunk (the order every
    // pretraining data pipeline runs them in, because chunking dup
    // content wastes the token budget twice): cluster survivors only
    // (qx92's canonical rule) flow into the 64/48 chunker accounting
    // (qx91) — one composed plan, one composed twin. The cluster chain
    // is the only heavy stage; the chunker adds a row-local fold.
    "qp9_chunked_curation" -> ((s, dir) => {
      val keep = stagedClusters(s, dir)
        .where(col("keeper")).select("doc_id")
      Tables.documents(s, dir)
        .join(keep, Seq("doc_id"), "left_semi")
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n"))
        .where(col("n") >= 1)
        .withColumn("n_chunks", expr("(n + 47) div 48"))
        .withColumn("chunk_toks", expr(
          "aggregate(sequence(0L, n_chunks - 1), CAST(0 AS BIGINT), " +
            "(a, k) -> a + least(CAST(64 AS BIGINT), n - k * 48))"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_kept"), sum("n").as("n_toks"),
          sum("n_chunks").as("n_chunks"),
          sum("chunk_toks").as("chunk_toks"))
        .orderBy("source")
    }),

    // TOKEN-BUDGET WATER-FILLING — the allocation a data-mixture
    // curator actually runs (qx22's proportional rebalance has no
    // caps): give every source an equal share of a token budget, but
    // never more than it has. The textbook form iterates on the water
    // level; here it is CLOSED-FORM over the sorted per-source caps —
    // k* = max k with prefix_k + (n−k)·cap_k ≤ T, level = (T −
    // prefix_k*) div (n − k*) — one bounded window pass + two one-row
    // aggregates, all exact integers (the floor leaves ≤ n−k* tokens
    // unallocated, stated). Budget T = half the corpus tokens.
    "qz70_budget_waterfill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val caps = Tables.documents(s, dir)
        .select(col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n"))
        .groupBy("source").agg(sum("n").as("cap"))
      val tot = broadcast(caps.agg(sum("cap").as("total"),
        count(lit(1)).as("n_src")))
      // GLOBAL-WINDOW BOUND (label-vocab): one row per source — the
      // frame is the source vocabulary however large the corpus
      val w = Window.orderBy("cap", "source")
      val ranked = caps.crossJoin(tot)
        .withColumn("budget", expr("total div 2"))
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("prefix", sum("cap").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("feasible",
          col("prefix") + (col("n_src") - col("k")) * col("cap")
            <= col("budget"))
      val fit = broadcast(ranked.agg(
        coalesce(max(when(col("feasible"), col("k"))), lit(0L))
          .as("kstar"),
        coalesce(max(when(col("feasible"), col("prefix"))), lit(0L))
          .as("prefix0")))
      ranked.crossJoin(fit)
        .withColumn("level",
          expr("(budget - prefix0) div (n_src - kstar)"))
        .select(col("source"), col("cap"),
          least(col("cap"), col("level")).as("alloc"),
          (col("cap") <= col("level")).as("fully_kept"))
        .orderBy("source")
    }),

    // FILTERED vector search — the production retrieval mode every
    // vector store ships (predicate + similarity, "nearest within my
    // class"): top-5 by cosine among corpus vectors sharing the
    // probe's LABEL, self excluded. Shape: the predicate is an
    // equi-join key, so the candidate set prunes to one class BEFORE
    // any distance math (the filtered-search analog of an IVF cell),
    // and the per-probe rank filter prunes map-side
    // (WindowGroupLimit). Exact by construction — the baseline any
    // filtered-IVF leg would be graded against.
    "qe42_filtered_knn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      // BROADCAST BOUND (query-anchors): the probe set is the query
      // workload — FENCED (the qe3 rule: vec_id < 2000 is inert at the
      // sf0.01 gate and caps the anchor count at any SF, so the
      // exact-baseline surface never scales with the corpus)
      val probes = broadcast(emb.where(
          col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("q_id"),
          col("embedding").as("q_emb"), col("label").as("want")))
      val cands = emb.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("label"))
      val w = Window.partitionBy("q_id")
        .orderBy(desc("cos"), col("n_id"))
      cands.join(probes,
          col("label") === col("want") && col("n_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("q_id"), col("label").cast("long").as("label"),
          col("n_id"), col("rank").cast("long").as("rank"), col("cos"))
        .orderBy("q_id", "rank")
    }),

    // SPLIT-LEAKAGE validation — the number that PROVES qx93's point:
    // over the same near-dup pair set (co-cluster pairs from the
    // shared qx11 chain), how many pairs straddle two splits under (a)
    // the cluster-hash policy and (b) the naive doc-hash policy.
    // Cluster-hash reads 0 BY CONSTRUCTION (both endpoints share the
    // cluster, hence the bucket); doc-hash leaks ~proportional to the
    // cross-bucket mass — eval twins of training docs. Pairs live at
    // cluster grain (band-capped sizes), never corpus².
    "qx95_split_leakage" -> ((s, dir) => {
      def b(k: String) = expr("CAST(conv(substring(md5(CAST(" + k +
        " AS STRING)), 1, 15), 16, 10) AS BIGINT) % 10")
      def sp(c: Column) = when(c < 8, "train")
        .when(c < 9, "val").otherwise("test")
      // NO pair expansion: cross-split pairs per cluster are the k²
      // identity (n² − Σ k_split²)/2 over per-(cluster, split) counts —
      // the 100× probe showed explicit pairing going quadratic in
      // cluster size (484 s); this form is one doc-grain rollup. The
      // twin pair-expands at the sf0.01 gate (25k pairs) — the identity
      // and the expansion count the same set.
      val t = graft.Materialize.cut(
        stagedClusters(s, dir)
          .withColumn("cs", sp(b("cluster")))
          .withColumn("ds", sp(b("doc_id")))
          .select(col("cluster"), col("cs"), col("ds")))
      def sumSq(key: String) = t.groupBy("cluster", key)
        .agg(count(lit(1)).as("k"))
        .groupBy("cluster")
        .agg(sum("k").as("n"), sum(col("k") * col("k")).as("sk2"))
      sumSq("ds").withColumnRenamed("sk2", "sd2")
        .join(sumSq("cs").select(col("cluster"), col("sk2").as("sc2"),
          col("n").as("n2")), "cluster")
        .agg(sum(expr("n * (n - 1) div 2")).as("n_pairs"),
          sum(expr("(n * n - sc2) div 2")).as("cross_cluster_split"),
          sum(expr("(n * n - sd2) div 2")).as("cross_doc_split"))
        .where(col("n_pairs") > 0L)
        .select(col("n_pairs"), col("cross_cluster_split"),
          col("cross_doc_split"),
          expr("(1000000 * cross_doc_split) div n_pairs")
            .as("doc_leak_ppm"))
    }),

    // COMPOSED PIPELINE #11: BENCHMARK-SAFE TRAINING EXPORT — the
    // end-to-end export a training run actually consumes: (1) drop
    // every doc contaminated against the eval index (qx96's gate),
    // (2) keep only dedup survivors (the staged qx11 cluster table),
    // (3) hash-split the survivors (qx93's md5 rule; survivors are
    // their own cluster reps, so the doc hash IS the cluster hash),
    // (4) book the 64/48 chunk-window token mass (qx91/qp9 arithmetic)
    // per (split, source). Each stage is the already-probed production
    // shape; the composition adds one broadcast anti-join and enum-
    // grain rollups.
    "qp11_safe_export" -> ((s, dir) => {
      val hs = graft.Materialize.cut(Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 13)
        .select(col("doc_id"),
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13)
            .as("hs")))
      val ev = hs.where(col("doc_id") % 31 === 0)
        .select(col("doc_id").as("eval_id"),
          explode(array_distinct(col("hs"))).as("h"))
      // BROADCAST BOUND (benchmark-set): benchmark-sized (see qx96)
      val contaminated = hs.select(col("doc_id"),
          explode(array_distinct(col("hs"))).as("h"))
        .join(broadcast(ev), "h")
        .where(col("doc_id") =!= col("eval_id"))
        .select("doc_id").distinct()
      Tables.documents(s, dir)
        .join(stagedClusters(s, dir).where(col("keeper"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("b",
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, " +
            "15), 16, 10) AS BIGINT) % 10"))
        .withColumn("split", when(col("b") < 8, "train")
          .when(col("b") < 9, "val").otherwise("test"))
        .select(col("split"), col("source"),
          size(Text.tokens(col("text"))).cast("long").as("n"))
        .where(col("n") >= 1)
        .withColumn("n_chunks", expr("(n + 47) div 48"))
        .withColumn("chunk_toks", expr(
          "aggregate(sequence(0L, n_chunks - 1), CAST(0 AS BIGINT), " +
            "(a, k) -> a + least(CAST(64 AS BIGINT), n - k * 48))"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("n_toks"),
          sum("n_chunks").as("n_chunks"),
          sum("chunk_toks").as("chunk_toks"))
        .orderBy("split", "source")
    }),

    // EVAL DECONTAMINATION — the standard train-vs-benchmark n-gram
    // pass (GPT-3 appendix C / Gopher / Llama posture): flag every
    // corpus doc sharing a 13-gram with a benchmark item, so it can be
    // dropped from training before it inflates eval scores. The eval
    // frame here is deterministic (every 31st doc donates ALL its
    // distinct 13-grams, the way a real pass indexes every n-gram of
    // the benchmark's passages), standing in for an external eval set.
    // Scale shape = qx41's delta-vs-index with the index on
    // the EVAL side: the eval frame is benchmark-sized (thousands of
    // items, never corpus-sized) and BROADCASTS; the corpus side is one
    // linear scan exploding distinct 60-bit gram keys (the qx16 hash
    // discipline — md5-prefix BIGINTs, no string shuffles) probed
    // against it map-side. Self-hits are excluded (the donor doc
    // trivially contains its own gram); what remains is true
    // contamination — replicas and quoters of benchmark text.
    // EVAL-ITEM CONTAMINATION REPORT — qx96's other deliverable, at
    // the BENCHMARK's grain: for each eval item, how many corpus docs
    // quote it and with how many distinct grams — the report that
    // decides which benchmark items must be retired (their answers are
    // in the training set) vs which corpus docs to drop. Same eval
    // broadcast, same linear corpus probe; only the rollup key flips.
    "qx97_eval_item_report" -> ((s, dir) => {
      val hs = graft.Materialize.cut(Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 13)
        .select(col("doc_id"),
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13)
            .as("hs")))
      val ev = hs.where(col("doc_id") % 31 === 0)
        .select(col("doc_id").as("eval_id"),
          explode(array_distinct(col("hs"))).as("h"))
      // BROADCAST BOUND (benchmark-set): benchmark-sized (see qx96)
      hs.select(col("doc_id"), explode(array_distinct(col("hs"))).as("h"))
        .join(broadcast(ev), "h")
        .where(col("doc_id") =!= col("eval_id"))
        .groupBy("eval_id")
        .agg(countDistinct("doc_id").as("n_docs"),
          countDistinct("h").as("n_grams"))
        .orderBy("eval_id")
    }),

    "qx96_eval_decontam" -> ((s, dir) => {
      val hs = graft.Materialize.cut(Tables.documents(s, dir)
        .withColumn("toks", Text.tokens(col("text")))
        .where(size(col("toks")) >= 13)
        .select(col("doc_id"),
          graft.meos.NativeExpressions.shingleHashes(col("toks"), 13)
            .as("hs")))
      val ev = hs.where(col("doc_id") % 31 === 0)
        .select(col("doc_id").as("eval_id"),
          explode(array_distinct(col("hs"))).as("h"))
      // BROADCAST BOUND (benchmark-set): a real benchmark is a small
      // fixed text set however big the corpus — the 31st-doc slice
      // stands in for it; a deployment broadcasts the actual eval set
      hs.select(col("doc_id"),
          explode(array_distinct(col("hs"))).as("h"))
        .join(broadcast(ev), "h")
        .where(col("doc_id") =!= col("eval_id"))
        .groupBy("doc_id")
        .agg(countDistinct("eval_id").as("n_eval_hits"),
          countDistinct("h").as("n_gram_hits"))
        .orderBy("doc_id")
    }),

    // PARQUET LAYOUT audit — the storage-health check a 100 TB lake
    // runs before anything else: per row group, rows and compressed/
    // uncompressed byte masses straight from the FOOTERS (row-group
    // sizing decides scan parallelism, predicate-skipping granularity
    // and memory per task; a lake of 100 MB groups and a lake of 1 MB
    // groups read very differently). Metadata-grain by nature — footers
    // only, never data — but the PARSE is distributed one task per
    // file (see footerFrame): at lake scale |files| is millions and a
    // driver-side footer walk is the bottleneck. The twin reads the
    // SAME files through DuckDB's parquet_metadata, so both engines
    // must agree bit-for-bit on the physical layout.
    "qz75_parquet_layout" -> ((s, dir) => {
      lastLayoutDir = Some(dir)
      footerFrame(s, dir).orderBy("tbl", "row_group")
    }),

    // PARTITION-COUNT advisor — qz75's consumer: given the footers'
    // byte/row masses and a 128 MB target file size, how many files
    // SHOULD each table occupy, how many rows per file, and is the
    // current row-group grain too fine to scan efficiently (< 8 MB
    // average — the small-groups smell that turns a 100 TB scan into
    // open/seek thrash). Same metadata-grain driver posture and the
    // same bit-exact parquet_metadata twin; all arithmetic integer.
    "qz76_partition_advisor" -> ((s, dir) => {
      lastAdvisorDir = Some(dir)
      footerFrame(s, dir)
        .groupBy("tbl")
        .agg(count(lit(1)).as("n_groups"), sum("n_rows").as("n_rows"),
          sum("comp_bytes").as("comp_bytes"))
        .where(col("comp_bytes") > 0L)
        .select(col("tbl"), col("n_groups"), col("n_rows"),
          col("comp_bytes"),
          expr("(comp_bytes + 134217727) div 134217728")
            .as("files_target"),
          expr("n_rows div ((comp_bytes + 134217727) div 134217728)")
            .as("rows_per_file"),
          expr("comp_bytes div n_groups < 8388608")
            .as("too_granular"))
        .orderBy("tbl")
    }),

    // COMPACTION PLANNER — the small-files rewrite plan itself (qz76
    // says how many files a table SHOULD have; this says which files
    // merge into which output): greedy name-order coalescing, bin =
    // running-bytes-before ÷ 128 MB — the deterministic bin-packing
    // every lake compactor (OPTIMIZE/rewriteDataFiles) runs. Bytes are
    // footer column-chunk sums (the payload mass being rewritten,
    // identical in both engines). The walk is file-grain distributed
    // ([[fileBytesFrame]]): one parse task per file, prefix sums from
    // per-slice subtotals — no one-task window even at millions of
    // files. Output per table: files, planned bins, total/max-bin
    // bytes, and the mean bin fill in ppm of the target.
    "qz77_compaction_plan" -> ((s, dir) => {
      lastCompactionDir = Some(dir)
      val tgt = 134217728L
      fileBytesFrame(s, dir)
        // a 0-row part file has NO row groups, so the twin's
        // parquet_metadata never sees it — drop it here too (it also
        // needs no compaction I/O; empty-lake contract: 0 output rows)
        .where(col("bytes") > 0L)
        .withColumn("bin", expr(s"cum_before div ${tgt}L"))
        .groupBy("tbl", "bin")
        .agg(count(lit(1)).as("nf"), sum("bytes").as("bin_bytes"))
        .groupBy("tbl")
        .agg(sum("nf").as("n_files"), count(lit(1)).as("n_bins"),
          sum("bin_bytes").as("total_bytes"),
          max("bin_bytes").as("max_bin_bytes"))
        .withColumn("fill_ppm",
          expr(s"(1000000 * total_bytes) div (n_bins * ${tgt}L)"))
        .orderBy("tbl")
    }),

    // WATERMARK-SIZING audit — how late does data actually arrive,
    // i.e. what delay should `withWatermark` carry before the qs rows'
    // settings are anything but a guess. The corpus's ingest order is
    // perfectly time-sorted (driver generator), so arrival skew is
    // STAGED like qx63 stages PII: 4 ingest shards, shard i delivering
    // i·2 h late — then the audit measures each event against the
    // watermark the previous arrival-DAYS established (exactly the
    // batch-boundary watermark Structured Streaming computes). Shape =
    // qz47's calendar-carry rule: per-day max (partial agg), one
    // day-grain running max, lateness histogram at hour grain. All
    // integer; shares in ppm.
    "qz74_watermark_audit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(unix_micros(col("ts")).as("us"),
          (col("event_id") % 4L).as("shard"))
        .withColumn("arr_day",
          expr("(us + shard * 7200000000) div 86400000000"))
      val dayMax = ev.groupBy("arr_day").agg(max("us").as("dmax"))
      // GLOBAL-WINDOW BOUND (calendar): one row per observed arrival
      // day — span-bounded at any corpus scale
      val w = Window.orderBy("arr_day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val carry = dayMax.withColumn("wm", max("dmax").over(w))
        .select("arr_day", "wm")
      val lat = ev.join(carry, Seq("arr_day"))
        .select(expr("greatest(0, coalesce(wm - us, 0)) div 3600000000")
          .as("late_h"))
      val tot = broadcast(lat.agg(count(lit(1)).as("total")))
      lat.groupBy("late_h").agg(count(lit(1)).as("n"))
        .crossJoin(tot)
        .select(col("late_h"), col("n"),
          expr("n * 1000000 div total").as("ppm"))
        .orderBy("late_h")
    }),

    // COMPOSED PIPELINE #10 — the PRIVACY EXPORT: what actually ships
    // when a lake leaves the building. Three stages in ONE plan:
    // (1) the qx63 PII staging (the corpus is clean, so the gate input
    // carries a deterministic email/URL/UUID/order appendix per doc);
    // (2) the qz72 k-anonymity gate — QI classes (lang, source,
    // length-KB) smaller than 5 are SUPPRESSED, not generalized;
    // (3) the survivors scrubbed (sequential class masking, counts =
    // the redaction audit) and rolled into a per-source export
    // manifest: docs in / suppressed / out, clean chars, masked-PII
    // mass. Scale shape: the class rollup is vocabulary-bounded and
    // broadcast; the scrub is a narrow codegen'd projection fused into
    // the survivors' scan.
    "qp10_privacy_export" -> ((s, dir) => {
      val h = md5(col("doc_id").cast("string"))
      val staged = Tables.documents(s, dir).select(col("doc_id"),
        col("lang"), col("source"),
        expr("n_chars div 1000").as("len_kb"),
        concat(col("text"), lit(" contact "), col("source"),
          lit("@example.com see http://"), col("source"),
          lit(".example.com/p/"), col("doc_id").cast("string"),
          lit(" session "),
          substring(h, 1, 8), lit("-"), substring(h, 9, 4), lit("-"),
          substring(h, 13, 4), lit("-"), substring(h, 17, 4), lit("-"),
          substring(h, 21, 12),
          lit(" order #"), (col("doc_id") * 37).cast("string"))
          .as("t0"))
      val cls = staged.groupBy("lang", "source", "len_kb")
        .agg(count(lit(1)).as("sz"))
      // BROADCAST BOUND (enum-group): one row per QI class — langs ×
      // sources × length-KB bands, a vocabulary however large the corpus
      val gated = staged.join(broadcast(cls),
        Seq("lang", "source", "len_kb"))
      val outMass = gated.where(col("sz") >= 5L)
        .select(col("source"), Text.scrubPii(col("t0")).as("p"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs_out"),
          sum(length(col("p.text")).cast("long")).as("chars_out"),
          sum(col("p.n_email") + col("p.n_url") + col("p.n_uuid") +
            col("p.n_num")).as("pii_masked"))
      staged.groupBy("source").agg(count(lit(1)).as("docs_in"))
        .join(gated.where(col("sz") < 5L).groupBy("source")
          .agg(count(lit(1)).as("docs_suppressed")), Seq("source"),
          "left")
        .join(outMass, Seq("source"), "left")
        .select(col("source"), col("docs_in"),
          coalesce(col("docs_suppressed"), lit(0L))
            .as("docs_suppressed"),
          coalesce(col("docs_out"), lit(0L)).as("docs_out"),
          coalesce(col("chars_out"), lit(0L)).as("chars_out"),
          coalesce(col("pii_masked"), lit(0L)).as("pii_masked"))
        .orderBy("source")
    }),

    // JOIN-FANOUT forecast — price a join BEFORE paying for it: per-key
    // multiplicity histograms of both sides met at KEY grain (two
    // partial aggs + one key-grain full-outer join — the join itself is
    // never materialized), rolled up by decimal magnitude of the
    // per-key output cardinality a·b. Σ a·b is the exact row count the
    // real join would emit; the top bucket is the skew mass that decides
    // salting (qz26) vs a plain shuffle. Bucket 0 = keys present on one
    // side only (they emit nothing inner, null-pad outer). All integer;
    // the magnitude bucket is the BIGINT's decimal digit count — no
    // floating log on either engine.
    "qz71_join_fanout" -> ((s, dir) => {
      val a = Tables.events(s, dir)
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("a"))
      val b = Tables.orders(s, dir)
        .select((col("o_custkey") % 200L).as("k"))
        .groupBy("k").agg(count(lit(1)).as("b"))
      a.join(b, Seq("k"), "full_outer")
        .select(coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b"))
        .withColumn("outn", col("a") * col("b"))
        .withColumn("bucket", when(col("outn") === 0L, lit(0L))
          .otherwise(length(col("outn").cast("string")).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_keys"),
          sum("outn").as("out_rows"),
          sum("a").as("left_rows"), sum("b").as("right_rows"))
        .orderBy("bucket")
    }),

    // K-ANONYMITY risk audit — the privacy gate BEFORE an export (the
    // prevention-side twin of qz68's right-to-be-forgotten costing):
    // documents bucketed by the quasi-identifier tuple (lang, source,
    // length-KB band); a QI class smaller than k re-identifies its
    // members by elimination. Output: class-size bands with class and
    // row masses — the "suppress or generalize" decision table. QI
    // classes are vocabulary-bounded (langs × sources × length bands),
    // so everything after the one corpus-grain rollup is tiny.
    "qz72_k_anonymity" -> ((s, dir) => {
      val cls = Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          expr("n_chars div 1000").as("len_kb"))
        .groupBy("lang", "source", "len_kb")
        .agg(count(lit(1)).as("sz"))
      cls
        .withColumn("band_lo",
          when(col("sz") === 1L, 1L).when(col("sz") <= 4L, 2L)
            .when(col("sz") <= 9L, 5L).otherwise(10L))
        .withColumn("band",
          when(col("band_lo") === 1L, "unique")
            .when(col("band_lo") === 2L, "2-4")
            .when(col("band_lo") === 5L, "5-9").otherwise("10+"))
        .groupBy("band_lo", "band")
        .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_rows"))
        .orderBy("band_lo")
    }),

    // WINSORIZATION plan — outlier clamping at EXACT p1/p99 (the value-
    // cleanup step before any mean-based monitor like qz59 trusts the
    // column): quantiles by the qx18/qz31 distinct-value histogram rule
    // (rank r = ceil(q·n), value = first level whose cumulative count
    // reaches r), then the clamp is priced, not applied — clipped row
    // masses and the Σ before/after in exact milli units. One corpus-
    // grain rollup to the value histogram; the ordered pass runs at
    // distinct-LEVEL grain.
    "qz73_winsorize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(floor(col("value") * 1000).cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
      // GLOBAL-WINDOW BOUND (distinct-value): milli-quantized purchase
      // levels (the qz31 histogram rule); coarsen the grid if a corpus
      // ever approaches row-grain distinctness
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = broadcast(hist.agg(sum("c").as("n")))
      val cum = hist.crossJoin(tot)
        .withColumn("cum", sum("c").over(w))
        .withColumn("r01", expr("(n + 99) div 100"))
        .withColumn("r99", expr("(99 * n + 99) div 100"))
      val qtl = broadcast(cum.agg(
        min(when(col("cum") >= col("r01"), col("v"))).as("p01"),
        min(when(col("cum") >= col("r99"), col("v"))).as("p99"),
        first(col("n")).as("n")))
      hist.crossJoin(qtl)
        .agg(first(col("n")).as("n_rows"),
          first(col("p01")).as("p01_milli"),
          first(col("p99")).as("p99_milli"),
          coalesce(sum(when(col("v") < col("p01"), col("c"))), lit(0L))
            .as("clipped_lo"),
          coalesce(sum(when(col("v") > col("p99"), col("c"))), lit(0L))
            .as("clipped_hi"),
          sum(col("v") * col("c")).as("sum_milli"),
          sum(greatest(col("p01"), least(col("p99"), col("v")))
            * col("c")).as("winsor_sum_milli"))
        // empty-lake contract: the global agg's one null row (no
        // purchases at all) drops, matching the twin's GROUP BY
        .where(col("n_rows").isNotNull)
    }),

    // PSI DISTRIBUTION DRIFT — the population-stability index between
    // the two halves of the observed span (the ML-ops drift gauge next
    // to qz59's mean-shift monitor: PSI sees MIX changes a volume
    // monitor can't): per event type present in both halves, the PSI
    // term (p_pre − p_post)·ln(p_pre/p_post), shares as one double
    // division each, the ln rounded to 9 (the qx28 ulp-portability
    // rule). Type-grain rollup — nothing corpus-proportional shuffles.
    "qz69_psi_drift" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(col("event_type"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT)").as("day"))
      val b = broadcast(d.agg(min("day").as("d0"), max("day").as("d1")))
      val ct = d.crossJoin(b)
        .withColumn("seg",
          when(col("day") < expr("(d0 + d1 + 1) div 2"), "pre")
            .otherwise("post"))
        .groupBy("event_type", "seg").agg(count(lit(1)).as("n"))
      val tot = ct.groupBy("seg").agg(sum("n").as("t"))
      val w = ct.join(tot, "seg")
      val pre = w.where(col("seg") === "pre")
        .select(col("event_type"), col("n").as("n_pre"),
          col("t").as("t_pre"))
      val post = w.where(col("seg") === "post")
        .select(col("event_type"), col("n").as("n_post"),
          col("t").as("t_post"))
      pre.join(post, "event_type")
        .select(col("event_type"), col("n_pre"), col("n_post"),
          expr("round((CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE) " +
            "- CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE)) * " +
            "ln((CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE)) / " +
            "(CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE))), 9)")
            .as("psi_term"))
        .orderBy("event_type")
    }),

    // CONTEXT-LENGTH TRUNCATION PLAN — before picking a training
    // context length, what does each candidate L cost: docs over L and
    // the token mass a hard truncation discards, exact ppm. One narrow
    // map exploded over the three candidate lengths; L-grain rollup.
    "qx94_truncation_plan" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(size(Text.tokens(col("text"))).cast("long").as("n"))
        .select(explode(array(lit(128L), lit(512L), lit(2048L)))
          .as("max_len"), col("n"))
        .groupBy("max_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n") > col("max_len"), 1L).otherwise(0L))
            .as("docs_over"),
          sum("n").as("n_toks"),
          sum(greatest(col("n") - col("max_len"), lit(0L)))
            .as("tokens_lost"))
        .withColumn("lost_ppm",
          expr("(1000000 * tokens_lost) div n_toks"))
        .orderBy("max_len")),

    // DELETION-SWEEP AUDIT — the right-to-be-forgotten costing every
    // compliance pipeline runs BEFORE the rewrite: given a subject
    // predicate (residue class 97 as the deterministic stand-in for a
    // deletion list), how many rows must go per table — including the
    // CASCADE through orders→lineitem, which at scale is a key
    // semi-join against the fact table, not a scan-and-filter (the
    // deleted-order keys ride the join's own shuffle). Constant-group
    // anchors per rule: an empty lake emits zero rows (q62's contract).
    "qz68_deletion_sweep" -> ((s, dir) => {
      def rule(name: String, viol: DataFrame): DataFrame =
        viol.groupBy(lit(1).as("one"))
          .agg(sum("hit").as("n_rows"))
          .select(lit(name).as("tbl"), col("n_rows"))
      val o = Tables.orders(s, dir)
      val r1 = rule("events",
        Tables.events(s, dir).select(
          when(col("user_id") % 97 === 0, 1L).otherwise(0L).as("hit")))
      val r2 = rule("orders",
        o.select(when(col("o_custkey") % 97 === 0, 1L).otherwise(0L)
          .as("hit")))
      val r3 = rule("lineitem",
        Tables.lineitem(s, dir).select(col("l_orderkey"))
          .join(o.where(col("o_custkey") % 97 === 0)
            .select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .select(when(col("o_orderkey").isNotNull, 1L).otherwise(0L)
            .as("hit")))
      r1.unionAll(r2).unionAll(r3).orderBy("tbl")
    }),

    // CLUSTER-SAFE EVAL SPLIT — the leakage-safe train/val/test
    // assignment: splitting by DOC hash puts near-duplicates of a
    // training doc into the eval set (the classic leaked-eval bug);
    // splitting by CLUSTER id keeps every near-dup family in ONE
    // split. Assignment is the deterministic md5 residue of the
    // cluster id (80/10/10); the gate reports per-split doc AND
    // cluster masses — a family straddling splits would shift both.
    "qx93_cluster_safe_split" -> ((s, dir) => {
      val cl = stagedClusters(s, dir)
        .withColumn("bucket",
          expr("CAST(conv(substring(md5(CAST(cluster AS STRING)), 1, " +
            "15), 16, 10) AS BIGINT) % 10"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") < 9, "val").otherwise("test"))
      cl.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("cluster").as("n_clusters"),
          sum(when(!col("keeper"), 1L).otherwise(0L)).as("n_dup_members"))
        .orderBy("split")
    }),

    // DEDUP SURVIVORSHIP ACCOUNTING — the op a curation pipeline runs
    // AFTER cluster detection (qx11 finds the clusters; something must
    // pick survivors and book the savings): canonical = the cluster id
    // itself (min doc_id — deterministic, no tie ambiguity), savings =
    // the losers' bytes, rolled up per source. One doc-grain join onto
    // the shared cluster machinery; the rollup is enum-grain.
    "qx92_dedup_survivorship" -> ((s, dir) => {
      val cl = stagedClusters(s, dir)
      cl.join(Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keeper"), 1L).otherwise(0L)).as("n_survivors"),
          sum("n_chars").as("chars_total"),
          sum(when(!col("keeper"), col("n_chars")).otherwise(0L))
            .as("chars_removed"))
        .withColumn("removed_ppm",
          expr("(1000000 * chars_removed) div chars_total"))
        .orderBy("source")
    }),

    "qz66_active_days_hist" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
            "AS BIGINT)").as("day"))
        .groupBy("user_id").agg(countDistinct("day").as("k"))
      val tot = broadcast(u.groupBy(lit(1).as("one"))
        .agg(count(lit(1)).as("n_users")).drop("one")
        .select(col("n_users")))
      u.groupBy("k").agg(count(lit(1)).as("n"))
        .crossJoin(tot)
        .select(col("k").as("active_days"), col("n"),
          expr("(1000000 * n) div n_users").as("share_ppm"))
        .orderBy("active_days")
    }),

    // VOCABULARY COVERAGE / OOV RATE — the number a tokenizer build
    // reports first: with a top-K frequency vocabulary (K = 30 — the
    // budget is the knob), what fraction of each source's token stream
    // falls out of vocabulary? The vocab is a TakeOrdered heap
    // broadcast against one token scan; per-source exact ppm.
    "qx90_vocab_oov" -> ((s, dir) => {
      val tok = graft.Materialize.cut(docsWithToks(s, dir)
        .select(col("source"), explode(col("toks")).as("t")))
      val vocab = broadcast(tok.groupBy("t")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("t")).limit(30)
        .select(col("t"), lit(true).as("inv")))
      tok.join(vocab, Seq("t"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("(1000000 * n_oov) div n_tokens"))
        .orderBy("source")
    }),

    // INTERRUPTED TIME SERIES — the causal-impact shape (did the thing
    // we shipped on day d* change the level or the trend?): the
    // intervention day is the deterministic midpoint of the observed
    // span, each segment gets a closed-form OLS of daily counts on
    // RECENTERED days (exact BIGINT num/den — the qz30 discipline;
    // recentering keeps Σxy inside the exact envelope), and the two
    // rows report n/slope/mean per segment. BIGINT envelope: n·Σxy
    // with x ≤ span days — exact to ~10¹² events/day at decade spans.
    "qz65_interrupted_ts" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("CAST(datediff(CAST(ts AS DATE), DATE'1970-01-01') " +
          "AS BIGINT)").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val b = broadcast(daily.agg(min("day").as("d0"),
        max("day").as("d1")))
      daily.crossJoin(b)
        .withColumn("cut", expr("(d0 + d1 + 1) div 2"))
        .withColumn("segment",
          when(col("day") < col("cut"), "pre").otherwise("post"))
        .withColumn("x", col("day") - col("d0"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("segment"), col("n_days"),
          (col("n_days") * col("sxy") - col("sx") * col("sy"))
            .as("slope_num"),
          (col("n_days") * col("sxx") - col("sx") * col("sx"))
            .as("slope_den"),
          expr("(1000 * sy) div n_days").as("mean_milli"))
        .withColumn("slope",
          when(col("slope_den") =!= 0,
            col("slope_num").cast("double") /
              col("slope_den").cast("double")).otherwise(lit(0.0)))
        .orderBy("segment")
    }),

    // DYNAMIC RANGE — the p95−p5 spread of each asset's sample bytes
    // (a narrow range means over-compressed or near-silent audio; the
    // loudness/clipping gauges can't separate those): exact type-1
    // percentiles from the per-doc BYTE-DOMAIN histogram — the value
    // domain is ≤ 256 buckets per doc by construction, the strongest
    // form of the qx18 bounded-histogram rule.
    "qm22_dynamic_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hist = frameByteVectors(s, dir)
        .select(col("doc_id"), explode(col("bv")).as("v"))
        .groupBy("doc_id", "v").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy("doc_id").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("c").over(wc))
        .withColumn("total", sum("c").over(Window.partitionBy("doc_id")))
      def q(p: Int) =
        min(when(col("cum") * 100 >= col("total") * p, col("v")))
      cum.groupBy("doc_id")
        .agg(q(5).as("p5"), q(95).as("p95"))
        .withColumn("dyn_range", col("p95") - col("p5"))
        .orderBy("doc_id")
    }),

    // AUDIO CLIPPING GAUGE — samples pinned at the rails (≤ 2 or
    // ≥ 253 of the byte range) flag hard-clipped captures qm18's ZCR
    // reads as merely "noisy": one codegen'd filter+size per frame
    // over the shared frame staging, doc-grain rollup, exact ppm.
    "qm20_audio_clipping" -> ((s, dir) =>
      frameByteVectors(s, dir)
        .select(col("doc_id"), col("frame_len"),
          size(filter(col("bv"), x => x <= 2 || x >= 253)).cast("long")
            .as("nc"))
        .groupBy("doc_id")
        .agg(sum("frame_len").as("n_samples"),
          sum("nc").as("n_clipped"))
        .withColumn("clip_ppm",
          expr("(1000000 * n_clipped) div n_samples"))
        .orderBy("doc_id")))

  /** DuckDB twin of the random-hyperplane banding: generated from the
    * SAME deterministic plane matrix the Spark kernel uses, with the same
    * left-to-right double folds — so even the "approximate" LSH path is
    * exactly oracle-checkable (the approximation is in the algorithm, not
    * the execution). */
  private def rhpBandsSql(bands: Int, bitsPerBand: Int, dim: Int): String = {
    val ps = Similarity.planes(bands * bitsPerBand, dim, 42L)
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def bitSql(p: Array[Double]): String =
      "(CASE WHEN list_reduce(list_transform(list_zip(embedding, " +
        s"${planeLit(p)}), x -> CAST(x[1] AS DOUBLE) * x[2]), " +
        "(a, b) -> a + b) >= 0 THEN '1' ELSE '0' END)"
    (0 until bands).map { b =>
      val key = (0 until bitsPerBand)
        .map(k => bitSql(ps(b * bitsPerBand + k))).mkString(" || ")
      s"{'i': $b, 'k': $key}"
    }.mkString("[", ",\n", "]")
  }

  /** The raw sign BITS of the same seed-42 plane matrix as an INT list —
    * qz13's twin (rhpBandsSql emits banded key strings; the fidelity
    * audit needs prefix-hamming over individual bits). */
  private def rhpBitsSql(bits: Int, dim: Int): String = {
    val ps = Similarity.planes(bits, dim, 42L)
    def planeLit(p: Array[Double]): String =
      p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    ps.map { p =>
      "(CASE WHEN list_reduce(list_transform(list_zip(embedding, " +
        s"${planeLit(p)}), x -> CAST(x[1] AS DOUBLE) * x[2]), " +
        "(a, b) -> a + b) >= 0 THEN 1 ELSE 0 END)"
    }.mkString("[", ",\n", "]")
  }

  /** qe40/qe41 shared twin chain: sign signatures → Hamming shortlist →
    * cosine re-rank, ending in `ann` (q_id, n_id, rank, hamming, cos). */
  private lazy val SignAnnCte =
    s"""WITH s AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(range(32), i ->
      |      CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
      |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
      |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS lo,
      |    list_reduce(list_transform(range(32), i ->
      |      CASE WHEN embedding[CAST(i + 33 AS INT)] > 0
      |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
      |        ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b) AS hi
      |  FROM embeddings),
      |d AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    q.embedding AS qe, c.embedding AS ce,
      |    CAST(bit_count(xor(q.lo, c.lo)) +
      |         bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
      |  FROM s q JOIN s c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
      |h AS (
      |  SELECT * FROM d WINDOW wh AS (PARTITION BY q_id
      |    ORDER BY hamming, n_id)
      |  QUALIFY row_number() OVER wh <= 32),
      |r AS (
      |  SELECT q_id, n_id, hamming,
      |    ${cosSql("qe", "ce")} AS cos FROM h),
      |ann AS (
      |  SELECT q_id, n_id, CAST(row_number() OVER wc AS BIGINT) AS rank,
      |    hamming, cos
      |  FROM r WINDOW wc AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
      |  QUALIFY row_number() OVER wc <= 5)""".stripMargin

  private val ShingleCte =
    """WITH tok AS (
      |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, lang, n_chars,
      |         list_transform(range(len(toks) - 2),
      |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS s
      |  FROM tok WHERE len(toks) >= 3)""".stripMargin

  /** The qx11 minhash-cluster chain appended to [[ShingleCte]] — exact-
    * content pre-collapse, 4-band signatures over the reps, capped band
    * self-join, recursive-CTE connected components, doc-grain expansion
    * (`clus`: every doc with its cluster id). Shared by the cluster-grain
    * consumers added after round 8 (qz14); qx11/qz6/qz12/qz7 carry their
    * own verbatim copies from earlier rounds. */
  private val ClusterChainCte =
    s""",
      |fpt AS (
      |  SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
      |  FROM tok WHERE len(toks) >= 3),
      |rep AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY fp),
      |docrep AS (
      |  SELECT f.doc_id, r.rep FROM fpt f JOIN rep r USING (fp)),
      |sig AS (
      |  SELECT doc_id,
      |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
      |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
      |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
      |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
      |  FROM sh WHERE doc_id IN (SELECT rep FROM rep)),
      |bnd AS (
      |  SELECT doc_id, h0 AS band FROM sig
      |  UNION ALL SELECT doc_id, h1 FROM sig
      |  UNION ALL SELECT doc_id, h2 FROM sig
      |  UNION ALL SELECT doc_id, h3 FROM sig),
      |small AS (
      |  SELECT doc_id, band FROM bnd
      |  WHERE band IN (SELECT band FROM bnd GROUP BY band
      |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
      |e AS (
      |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
      |  FROM small a JOIN small c
      |    ON a.band = c.band AND a.doc_id < c.doc_id),
      |reach(node, label) AS (
      |  SELECT d, d FROM (SELECT d1 AS d FROM e UNION SELECT d2 FROM e) t(d)
      |  UNION
      |  SELECT CASE WHEN r.node = e.d1 THEN e.d2 ELSE e.d1 END, r.label
      |  FROM reach r JOIN e ON r.node = e.d1 OR r.node = e.d2),
      |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
      |expand AS (
      |  SELECT dr.doc_id, coalesce(cc.cluster, dr.rep) AS cluster
      |  FROM docrep dr LEFT JOIN cc ON dr.rep = cc.node),
      |clus AS (
      |  SELECT d.doc_id, coalesce(x.cluster, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN expand x ON d.doc_id = x.doc_id)"""
      .stripMargin

  /** qz7/qz15 shared flag staging appended to [[ClusterChainCte]]: the
    * per-doc minhash dup flag (`mhf` — cluster size > 1) plus the qx61
    * simhash band/refine chain ending in the simhash-flagged doc set
    * (`shd`). */
  private val DupFlagsCte =
    s""",
      |csz AS (SELECT cluster, count(*) AS n FROM clus GROUP BY cluster),
      |mhf AS (
      |  SELECT c.doc_id, (z.n > 1) AS mh_dup
      |  FROM clus c JOIN csz z USING (cluster)),
      |stok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |sbits AS (
      |  SELECT doc_id, p,
      |         CASE WHEN 2 * sum(CASE WHEN strpos('89abcdef',
      |                substr(md5(t), CAST(p AS INTEGER), 1)) > 0
      |              THEN 1 ELSE 0 END) >= count(*)
      |              THEN '1' ELSE '0' END AS b
      |  FROM stok, range(1, 33) AS r(p)
      |  GROUP BY doc_id, p),
      |sshs AS (
      |  SELECT doc_id, string_agg(b, '' ORDER BY p) AS sh
      |  FROM sbits GROUP BY doc_id),
      |sbnd AS (
      |  SELECT doc_id, '0:' || substr(sh, 1, 8) AS band FROM sshs
      |  UNION ALL SELECT doc_id, '1:' || substr(sh, 9, 8) FROM sshs
      |  UNION ALL SELECT doc_id, '2:' || substr(sh, 17, 8) FROM sshs
      |  UNION ALL SELECT doc_id, '3:' || substr(sh, 25, 8) FROM sshs),
      |ssmall AS (
      |  SELECT doc_id, band FROM sbnd
      |  WHERE band IN (SELECT band FROM sbnd GROUP BY band
      |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
      |sp AS (
      |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
      |  FROM ssmall a JOIN ssmall c
      |    ON a.band = c.band AND a.doc_id < c.doc_id),
      |spairs AS (
      |  SELECT sp.d1, sp.d2
      |  FROM sp
      |  JOIN sshs x ON x.doc_id = sp.d1
      |  JOIN sshs y ON y.doc_id = sp.d2
      |  WHERE list_reduce(list_transform(range(1, 33),
      |      i -> CASE WHEN substr(x.sh, CAST(i AS INT), 1)
      |                <> substr(y.sh, CAST(i AS INT), 1)
      |           THEN 1 ELSE 0 END), (a, b) -> a + b) <= 3),
      |shd AS (
      |  SELECT DISTINCT d FROM
      |    (SELECT d1 AS d FROM spairs
      |     UNION ALL SELECT d2 FROM spairs) u)""".stripMargin

  /** DuckDB twin of the IVF search given the fitted float centroids:
    * a VALUES table of exact-decimal centroid literals (BigDecimal of the
    * float's double value — parses back to the identical double DuckDB
    * multiplies with), corpus assigned to its argmax-cosine cell, queries
    * probing the 8 nearest cells, equi-join on cell, exact refine, top-5.
    * Every float op is the same left-to-right double fold as the Spark
    * kernel, so the twin hash-matches. */
  private def qe4Sql(cents: Seq[Seq[Float]], nprobe: Int, k: Int): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= $nprobe),
       |scored AS (
       |  SELECT qa.q_id, ca.n_id,
       |    ${cos("qe.embedding", "ne.embedding")} AS cos
       |  FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id
       |  JOIN embeddings qe ON qe.vec_id = qa.q_id
       |  JOIN embeddings ne ON ne.vec_id = ca.n_id)
       |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, cos
       |FROM scored
       |WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |QUALIFY row_number() OVER w <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB twin of the kNN-graph reciprocity audit (qe28): qe4's cell
    * assignment with the SAME fitted centroid literals, per-vector top-3
    * in-cell edges (nprobe = 1, queries = corpus), reciprocity via an
    * edge-key EXISTS, per-cell rollup. */
  private def qe28Sql(cents: Seq[Seq[Float]]): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id, e.embedding, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |ed AS (
       |  SELECT a.cell, a.vec_id AS u, b.vec_id AS v
       |  FROM ca a JOIN ca b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY ${cos("a.embedding", "b.embedding")} DESC,
       |      b.vec_id) <= 3),
       |rc AS (
       |  SELECT e1.cell, e1.u, e1.v FROM ed e1
       |  WHERE EXISTS (SELECT 1 FROM ed e2
       |                WHERE e2.u = e1.v AND e2.v = e1.u)),
       |nv AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
       |       FROM ca GROUP BY cell),
       |ne AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_edges
       |       FROM ed GROUP BY cell),
       |nr AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_recip
       |       FROM rc GROUP BY cell)
       |SELECT CAST(nv.cell AS BIGINT) AS cell, n_vecs,
       |  COALESCE(n_edges, 0) AS n_edges,
       |  COALESCE(n_recip, 0) AS n_recip,
       |  CASE WHEN COALESCE(n_edges, 0) > 0
       |    THEN CAST(COALESCE(n_recip, 0) AS DOUBLE)
       |      / CAST(n_edges AS DOUBLE)
       |    ELSE 0.0E0 END AS recip_share
       |FROM nv LEFT JOIN ne USING (cell) LEFT JOIN nr USING (cell)
       |ORDER BY cell""".stripMargin
  }

  /** DuckDB twin of the IVF range search (qe7): identical cell assignment
    * and probing as [[qe4Sql]], but the refine keeps everything at or above
    * the cosine radius instead of ranking top-k. Same centroid literals →
    * same cells → the approximation is deterministic and hash-checkable. */
  private def qe7Sql(cents: Seq[Seq[Float]], nprobe: Int,
                     minCos: Double): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= $nprobe)
       |SELECT qa.q_id, ca.n_id,
       |  ${cos("qe.embedding", "ne.embedding")} AS cos
       |FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id
       |JOIN embeddings qe ON qe.vec_id = qa.q_id
       |JOIN embeddings ne ON ne.vec_id = ca.n_id
       |WHERE ${cos("qe.embedding", "ne.embedding")} >= $minCos
       |ORDER BY q_id, n_id""".stripMargin
  }

  /** DuckDB twin of the diversified top-k (qe12): qe4's cell CTEs with
    * the cell carried through scoring, a per-(query, cell) winner
    * group-limit, then the final cosine ranking over the winners. */
  private def qe12Sql(cents: Seq[Seq[Float]], nprobe: Int): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell)
       |      <= $nprobe),
       |scored AS (
       |  SELECT qa.q_id, ca.n_id, ca.cell,
       |    ${cosSql("qe.embedding", "ne.embedding")} AS cos
       |  FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id
       |  JOIN embeddings qe ON qe.vec_id = qa.q_id
       |  JOIN embeddings ne ON ne.vec_id = ca.n_id),
       |win AS (
       |  SELECT q_id, n_id, cell, cos FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY q_id, cell
       |    ORDER BY cos DESC, n_id) = 1)
       |SELECT q_id, n_id, CAST(cell AS BIGINT) AS cell,
       |  CAST(row_number() OVER w AS BIGINT) AS rank, cos
       |FROM win WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB twin of the SemDeDup query (qe11/qz1): the qe4
    * cell-assignment CTE (same centroid literals → same cells), the
    * deterministic hash-mod chunking that enforces the hot-cell cap
    * (md5₆₀(i) mod nchunks, with nchunks = ceil(cell_n/cellCap) rounded
    * up to a power of two via the integer-only length(bin(m-1)) trick —
    * bit-identical to the Spark expression, no window, no float log),
    * a within-(cell, chunk) min-id domination join at the cosine
    * threshold, and a left join marking keepers. The cosine is the
    * shared zip/fold double math, so the domination set is
    * bit-deterministic across engines. */
  private def qe11Sql(cents: Seq[Seq[Float]], tau: Double,
                      cellCap: Int): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    // 60-bit md5 fold of the id (the qx40 idiom) mod the pow2 chunk count
    val chunkExpr =
      if (cellCap <= 0) "CAST(0 AS BIGINT)"
      else {
        val h60 = "list_reduce(list_transform(range(1, 16), " +
          "j -> CAST(strpos('0123456789abcdef', " +
          "substr(md5(CAST(i AS VARCHAR)), CAST(j AS INT), 1)) " +
          "- 1 AS BIGINT)), (x, y) -> x * 16 + y)"
        val m = s"((cell_n + ${cellCap - 1}) // $cellCap)"
        s"""CAST($h60 % (CASE WHEN $m <= 1 THEN 1
           |    ELSE (CAST(1 AS BIGINT) << length(bin($m - 1))) END)
           |    AS BIGINT)""".stripMargin
      }
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |a0 AS (
       |  SELECT e.vec_id AS i, e.embedding AS emb, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |sz AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS cell_n
       |  FROM a0 GROUP BY cell),
       |a AS (
       |  SELECT i, emb, a0.cell, $chunkExpr AS chunk
       |  FROM a0 JOIN sz ON sz.cell = a0.cell),
       |dom AS (
       |  SELECT x.i, CAST(min(y.i) AS BIGINT) AS dup_of
       |  FROM a x JOIN a y ON y.cell = x.cell AND y.chunk = x.chunk
       |    AND y.i < x.i
       |  WHERE ${cos("x.emb", "y.emb")} >= $tau
       |  GROUP BY x.i)
       |SELECT a.i AS vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  (d.dup_of IS NULL) AS kept, d.dup_of AS dup_of
       |FROM a LEFT JOIN dom d ON d.i = a.i
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of the embedding pipeline (qp7): [[qe11Sql]] as the
    * semantic-dedup stage (same fitted literals), an exact-collapse
    * window over the raw embedding lists, and the per-cell manifest
    * rollup — the same drop-attribution arithmetic as the Spark plan. */
  private def qp7Sql(cents: Seq[Seq[Float]]): String = {
    val base = qe11Sql(cents, tau = 0.4, cellCap = 4096)
    s"""WITH sd AS (
       |  SELECT * FROM (
       |$base
       |)),
       |ex AS (
       |  SELECT vec_id, min(vec_id) OVER (PARTITION BY embedding)
       |    AS ex_keep,
       |  CAST(len(embedding) * 4 AS BIGINT) AS bytes
       |  FROM embeddings)
       |SELECT sd.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN ex.vec_id <> ex.ex_keep
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_drop,
       |  CAST(sum(CASE WHEN ex.vec_id = ex.ex_keep AND NOT sd.kept
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_drop,
       |  CAST(sum(CASE WHEN ex.vec_id = ex.ex_keep AND sd.kept
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN ex.vec_id <> ex.ex_keep OR NOT sd.kept
       |    THEN bytes ELSE 0 END) AS BIGINT) AS bytes_saved
       |FROM sd JOIN ex USING (vec_id)
       |GROUP BY sd.cell ORDER BY cell""".stripMargin
  }

  /** DuckDB twin of the cell-cap sweep (qe25): three [[qe11Sql]] legs —
    * each a full capped-semDedup plan at its cap — collapsed to kept/dup
    * counts and unioned. */
  private def qe25Sql(cents: Seq[Seq[Float]]): String =
    Seq(8, 24, 4096).map { cap =>
      val base = qe11Sql(cents, tau = 0.4, cellCap = cap)
      s"""SELECT * FROM (
         |SELECT CAST($cap AS BIGINT) AS cell_cap,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dups
         |FROM (
         |$base
         |)) WHERE n_kept IS NOT NULL""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY cell_cap")

  /** DuckDB twin of the cell-balance audit (qe19): the qe4
    * cell-assignment CTE over the same centroid literals, an integer
    * occupancy rollup, and per-row derived share/work columns. */
  private def qe19Sql(cents: Seq[Seq[Float]]): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |a AS (
       |  SELECT e.vec_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell)
       |    <= 1),
       |g AS (
       |  SELECT CAST(cell AS BIGINT) AS cell,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM a GROUP BY cell),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM embeddings)
       |SELECT cell, n,
       |  CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS frac,
       |  CAST(n * (n - 1) // 2 AS BIGINT) AS work_pairs
       |FROM g CROSS JOIN tot
       |ORDER BY cell""".stripMargin
  }

  /** DuckDB twin of the cell-merge plan (qe30): same fitted centroid
    * literals, the same assignment QUALIFY, the k×k argmax-cosine
    * neighbor, and the exact 64·n < nt cross-multiplied threshold. */
  private def qe30Sql(cents: Seq[Seq[Float]]): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |a AS (
       |  SELECT e.vec_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell)
       |    <= 1),
       |g AS (
       |  SELECT CAST(cell AS BIGINT) AS cell,
       |         CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM a GROUP BY cell),
       |best AS (
       |  SELECT CAST(x.cell AS BIGINT) AS cell,
       |    CAST(y.cell AS BIGINT) AS tgt,
       |    CAST(floor(${cosSql("x.c_emb", "y.c_emb")} * 1000000.0)
       |      AS BIGINT) AS cm
       |  FROM cent x JOIN cent y ON x.cell <> y.cell
       |  QUALIFY row_number() OVER (PARTITION BY x.cell
       |    ORDER BY ${cosSql("x.c_emb", "y.c_emb")} DESC, y.cell) = 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM embeddings)
       |SELECT b.cell, COALESCE(g.n_vecs, CAST(0 AS BIGINT)) AS n_vecs,
       |  CASE WHEN COALESCE(g.n_vecs, 0) * 64 < nt THEN b.tgt
       |       ELSE CAST(-1 AS BIGINT) END AS merge_into,
       |  CASE WHEN COALESCE(g.n_vecs, 0) * 64 < nt THEN b.cm
       |       END AS cos_micro,
       |  COALESCE(g.n_vecs, 0) * 64 < nt AS do_merge
       |FROM best b LEFT JOIN g USING (cell) CROSS JOIN tot
       |ORDER BY cell""".stripMargin
  }

  /** DuckDB twin of the centroid silhouette (qe29): same fitted
    * centroid literals and cosine fold, top-2 per vector, the same
    * floor(s·1e6) row quantization so the cell mean is an integer sum
    * on both engines. */
  private def qe29Sql(cents: Seq[Seq[Float]]): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |a AS (
       |  SELECT e.vec_id, c.cell,
       |    ${cosSql("e.embedding", "c.c_emb")} AS c_cos,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell)
       |      AS rk
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY rk <= 2),
       |g AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rk = 1 THEN cell END) AS cell,
       |    max(CASE WHEN rk = 1 THEN c_cos END) AS cos_own,
       |    max(CASE WHEN rk = 2 THEN c_cos END) AS cos_next
       |  FROM a GROUP BY vec_id),
       |s AS (
       |  SELECT cell,
       |    CAST(floor(CASE
       |      WHEN greatest(1.0 - cos_own, 1.0 - cos_next) > 0.0
       |      THEN (cos_own - cos_next) /
       |        greatest(1.0 - cos_own, 1.0 - cos_next)
       |      ELSE 0.0 END * 1000000.0) AS BIGINT) AS sm
       |  FROM g)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(sm) AS BIGINT) AS sum_s_micro,
       |  CAST(sum(sm) AS DOUBLE) /
       |    (CAST(count(*) AS DOUBLE) * 1000000.0) AS mean_sil
       |FROM s GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** DuckDB twin of the PQ-ADC search (qe8) given the fitted codebooks:
    * a VALUES table of exact-decimal centroid literals per (sub, cell)
    * (CAST to DOUBLE[] — the decimal string of a double casts back to the
    * identical double), corpus subvectors encoded to their argmin-L2²
    * cell (ties → smallest cell, like the native kernel), asymmetric
    * distances per (query, corpus, sub) with the same zip/fold double
    * math, summed in subspace order via `list(d2 ORDER BY sub)` →
    * `list_reduce` — the exact left-to-right addition the Scala kernel
    * performs — then top-k. */
  /** DuckDB twin of the PQ-transfer audit (qe27): per (vec, sub) the
    * MIN cell distance (what the assigned code's reconstruction error
    * is by definition), sub-ORDERED fold per vector (the qe8 adc rule),
    * nano-floored, split by the fit fence. Embeds the in-sample-fitted
    * codebooks as double E0 literals. */
  private def qe27Sql(cb: Seq[Seq[Seq[Double]]]): String = {
    val m = cb.length
    val subDim = cb.head.head.length
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val values = cb.zipWithIndex.flatMap { case (cells, j) =>
      cells.zipWithIndex.map { case (c, cell) =>
        s"($j, $cell, CAST([${c.map(dlit).mkString(",")}] AS DOUBLE[]))"
      }
    }.mkString(",\n")
    def d2(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), " +
        "(a, b) -> a + b)"
    s"""WITH cb(sub, cell, c_emb) AS (VALUES
       |$values),
       |sv AS (
       |  SELECT e.vec_id, s.sub,
       |    e.embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS svec
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       |se AS (
       |  SELECT sv.vec_id, sv.sub,
       |    min(${d2("sv.svec", "cb.c_emb")}) AS sd2
       |  FROM sv JOIN cb ON cb.sub = sv.sub
       |  GROUP BY sv.vec_id, sv.sub),
       |ev AS (
       |  SELECT vec_id,
       |    CAST(floor(list_reduce(list(sd2 ORDER BY sub),
       |      (a, b) -> a + b) * 1000000000) AS BIGINT) AS en
       |  FROM se GROUP BY vec_id)
       |SELECT CASE WHEN vec_id % 2 = 0 THEN 'in_sample'
       |            ELSE 'out_of_sample' END AS split,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(en) AS BIGINT) AS err_nano,
       |  CAST(sum(en) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e9
       |    AS mean_err
       |FROM ev GROUP BY 1 ORDER BY split""".stripMargin
  }

  private def qe8Sql(cb: Seq[Seq[Seq[Double]]], k: Int,
                     shortlist: Int): String = {
    val m = cb.length
    val subDim = cb.head.head.length
    // E0 suffix: forces DuckDB to parse the exact-decimal string straight
    // to DOUBLE (correctly rounded). A bare literal types as DECIMAL and
    // the DECIMAL→DOUBLE cast is off by 1 ulp for some values.
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val values = cb.zipWithIndex.flatMap { case (cells, j) =>
      cells.zipWithIndex.map { case (c, cell) =>
        s"($j, $cell, CAST([${c.map(dlit).mkString(",")}] AS DOUBLE[]))"
      }
    }.mkString(",\n")
    def d2(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), " +
        "(a, b) -> a + b)"
    s"""WITH cb(sub, cell, c_emb) AS (VALUES
       |$values),
       |sv AS (
       |  SELECT e.vec_id, s.sub,
       |    e.embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS svec
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       |codes AS (
       |  SELECT sv.vec_id, sv.sub, cb.cell AS code
       |  FROM sv JOIN cb ON cb.sub = sv.sub
       |  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.sub
       |    ORDER BY ${d2("sv.svec", "cb.c_emb")} ASC, cb.cell) = 1),
       |d AS (
       |  SELECT qv.vec_id AS q_id, codes.vec_id AS n_id, qv.sub,
       |    ${d2("qv.svec", "cb.c_emb")} AS d2
       |  FROM sv qv
       |  JOIN codes ON codes.sub = qv.sub AND codes.vec_id <> qv.vec_id
       |  JOIN cb ON cb.sub = codes.sub AND cb.cell = codes.code
       |  WHERE qv.vec_id < 20),
       |adc AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(d2 ORDER BY sub), (a, b) -> a + b) AS adc
       |  FROM d GROUP BY q_id, n_id),
       |shortl AS (
       |  SELECT q_id, n_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc, n_id) <= $shortlist),
       |ref AS (
       |  SELECT s.q_id, s.n_id,
       |    ${d2("qe.embedding", "ne.embedding")} AS d2
       |  FROM shortl s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ne ON ne.vec_id = s.n_id)
       |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, d2
       |FROM ref
       |WINDOW w AS (PARTITION BY q_id ORDER BY d2, n_id)
       |QUALIFY row_number() OVER w <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB twin of the IVFADC composition (qe9): the qe4 cell CTEs and
    * the qe8 codebook CTEs, with the ADC distance computed only for
    * (query, corpus) pairs meeting in a probed cell, then the same
    * shortlist → exact re-rank → top-k tail as qe8. Embeds BOTH fit
    * objects (centroids as float E0 literals, codebooks as double E0
    * literals). */
  private def qe9Sql(cents: Seq[Seq[Float]], cb: Seq[Seq[Seq[Double]]],
                     nprobe: Int, k: Int, shortlist: Int): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val centValues = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    val m = cb.length
    val subDim = cb.head.head.length
    val cbValues = cb.zipWithIndex.flatMap { case (cells, j) =>
      cells.zipWithIndex.map { case (c, cell) =>
        s"($j, $cell, CAST([${c.map(dlit).mkString(",")}] AS DOUBLE[]))"
      }
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    def d2(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), " +
        "(a, b) -> a + b)"
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$centValues),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= $nprobe),
       |cb(sub, cell, c_emb) AS (VALUES
       |$cbValues),
       |sv AS (
       |  SELECT e.vec_id, s.sub,
       |    e.embedding[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS svec
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       |codes AS (
       |  SELECT sv.vec_id, sv.sub, cb.cell AS code
       |  FROM sv JOIN cb ON cb.sub = sv.sub
       |  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.sub
       |    ORDER BY ${d2("sv.svec", "cb.c_emb")} ASC, cb.cell) = 1),
       |cand AS (
       |  SELECT qa.q_id, ca.n_id
       |  FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id),
       |d AS (
       |  SELECT cand.q_id, cand.n_id, qv.sub,
       |    ${d2("qv.svec", "cb.c_emb")} AS d2
       |  FROM cand
       |  JOIN sv qv ON qv.vec_id = cand.q_id
       |  JOIN codes ON codes.vec_id = cand.n_id AND codes.sub = qv.sub
       |  JOIN cb ON cb.sub = codes.sub AND cb.cell = codes.code),
       |adc AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(d2 ORDER BY sub), (a, b) -> a + b) AS adc
       |  FROM d GROUP BY q_id, n_id),
       |shortl AS (
       |  SELECT q_id, n_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc, n_id) <= $shortlist),
       |ref AS (
       |  SELECT s.q_id, s.n_id,
       |    ${d2("qe.embedding", "ne.embedding")} AS d2
       |  FROM shortl s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ne ON ne.vec_id = s.n_id)
       |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, d2
       |FROM ref
       |WINDOW w AS (PARTITION BY q_id ORDER BY d2, n_id)
       |QUALIFY row_number() OVER w <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB twin of the RESIDUAL IVFADC (qe26): qe9's structure with
    * the residual stages added — per-vector residual vs the assigned
    * cell's centroid (`CAST(double − double AS FLOAT)`, the same IEEE
    * rounding as the Spark expression), residual-codebook encode, and a
    * PER-(query, probed-cell) residual feeding the ADC legs. The exact
    * re-rank runs on ORIGINAL embeddings, like the plan. */
  private def qe26Sql(cents: Seq[Seq[Float]], cb: Seq[Seq[Seq[Double]]],
                      nprobe: Int, k: Int, shortlist: Int): String = {
    def flit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    def dlit(d: Double): String =
      new java.math.BigDecimal(d).toPlainString + "E0"
    val centValues = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(flit).mkString(",")}])"
    }.mkString(",\n")
    val m = cb.length
    val subDim = cb.head.head.length
    val cbValues = cb.zipWithIndex.flatMap { case (cells, j) =>
      cells.zipWithIndex.map { case (c, cell) =>
        s"($j, $cell, CAST([${c.map(dlit).mkString(",")}] AS DOUBLE[]))"
      }
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    def d2(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), " +
        "(a, b) -> a + b)"
    def resid(v: String, c: String): String =
      s"list_transform(list_zip($v, $c), " +
        "x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS FLOAT))"
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$centValues),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell,
       |    ${resid("e.embedding", "c.c_emb")} AS rv
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell,
       |    ${resid("e.embedding", "c.c_emb")} AS qrv
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= $nprobe),
       |cb(sub, cell, c_emb) AS (VALUES
       |$cbValues),
       |nsv AS (
       |  SELECT ca.n_id, s.sub,
       |    ca.rv[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS svec
       |  FROM ca CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       |codes AS (
       |  SELECT nsv.n_id, nsv.sub, cb.cell AS code
       |  FROM nsv JOIN cb ON cb.sub = nsv.sub
       |  QUALIFY row_number() OVER (PARTITION BY nsv.n_id, nsv.sub
       |    ORDER BY ${d2("nsv.svec", "cb.c_emb")} ASC, cb.cell) = 1),
       |qsv AS (
       |  SELECT qa.q_id, qa.cell, s.sub,
       |    qa.qrv[s.sub*$subDim+1 : s.sub*$subDim+$subDim] AS svec
       |  FROM qa CROSS JOIN (SELECT unnest(range($m)) AS sub) s),
       |cand AS (
       |  SELECT qa.q_id, ca.n_id, qa.cell
       |  FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id),
       |d AS (
       |  SELECT cand.q_id, cand.n_id, qv.sub,
       |    ${d2("qv.svec", "cb.c_emb")} AS d2
       |  FROM cand
       |  JOIN qsv qv ON qv.q_id = cand.q_id AND qv.cell = cand.cell
       |  JOIN codes ON codes.n_id = cand.n_id AND codes.sub = qv.sub
       |  JOIN cb ON cb.sub = codes.sub AND cb.cell = codes.code),
       |adc AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(d2 ORDER BY sub), (a, b) -> a + b) AS adc
       |  FROM d GROUP BY q_id, n_id),
       |shortl AS (
       |  SELECT q_id, n_id FROM adc
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc, n_id) <= $shortlist),
       |ref AS (
       |  SELECT s.q_id, s.n_id,
       |    ${d2("qe.embedding", "ne.embedding")} AS d2
       |  FROM shortl s
       |  JOIN embeddings qe ON qe.vec_id = s.q_id
       |  JOIN embeddings ne ON ne.vec_id = s.n_id)
       |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, d2
       |FROM ref
       |WINDOW w AS (PARTITION BY q_id ORDER BY d2, n_id)
       |QUALIFY row_number() OVER w <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** DuckDB twin of the cluster-balanced sample: same centroid-literal
    * technique as [[qe4Sql]] (the fit the Spark plan actually used),
    * argmax-cosine assignment, per-cell bottom-`quota` by md5(vec_id). */
  private def qx46Sql(cents: Seq[Seq[Float]], quota: Int): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell) <= 1)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |       CAST(row_number() OVER w AS BIGINT) AS rank, vec_id
       |FROM ca
       |WINDOW w AS (PARTITION BY cell
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
       |QUALIFY row_number() OVER w <= $quota
       |ORDER BY cell, rank""".stripMargin
  }

  /** DuckDB twin of the nprobe sweep (qe17): qe4's cell CTEs with the
    * query-cell rank carried (qrank ≤ 8 covers every probed setting),
    * exact top-5 from the brute-force fence, one scored/top-5 block per
    * probe count via the probes VALUES table, left-joined against exact
    * and aggregated. Same centroid literals ⇒ same cells ⇒ the sweep is
    * deterministic and hash-checkable. */
  private def qe17Sql(cents: Seq[Seq[Float]]): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell,
       |    CAST(row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell)
       |      AS BIGINT) AS qrank
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 8),
       |exact AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${cos("q.embedding", "e.embedding")} DESC,
       |      e.vec_id) <= 5),
       |probes(p) AS (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
       |                     (CAST(4 AS BIGINT)), (CAST(8 AS BIGINT))),
       |ivf AS (
       |  SELECT probes.p, qa.q_id, ca.n_id,
       |    ${cos("qe.embedding", "ne.embedding")} AS cos
       |  FROM probes
       |  CROSS JOIN qa
       |  JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id
       |  JOIN embeddings qe ON qe.vec_id = qa.q_id
       |  JOIN embeddings ne ON ne.vec_id = ca.n_id
       |  WHERE qa.qrank <= probes.p
       |  QUALIFY row_number() OVER (PARTITION BY probes.p, qa.q_id
       |    ORDER BY cos DESC, ca.n_id) <= 5),
       |denom AS (
       |  SELECT CAST(count(*) * 5 AS BIGINT) AS d
       |  FROM embeddings WHERE vec_id < 20)
       |SELECT i.p AS nprobe, CAST(count(*) AS BIGINT) AS n_cand,
       |  CAST(sum(CASE WHEN x.n_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_hits,
       |  CAST(sum(CASE WHEN x.n_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |    / CAST(max(denom.d) AS DOUBLE) AS recall
       |FROM ivf i
       |LEFT JOIN exact x ON x.q_id = i.q_id AND x.n_id = i.n_id
       |CROSS JOIN denom
       |GROUP BY i.p
       |ORDER BY nprobe""".stripMargin
  }

  /** Static twins plus the fit-dependent qe4 twin. Verify materializes
    * every query result BEFORE dumping oracle SQL, so by the time this is
    * read the qe4 fit has run and its centroids are cached; if qe4 never
    * ran in this process the entry is omitted (rows-only check, exactly
    * the pre-oracle behavior). */
  /** DuckDB twin of the graded ranking eval (qz9): qe4-pattern IVF
    * system ranking (centroid VALUES literals, nprobe=4, top-10), exact
    * top-50 graded truth, then the metric folds — every per-position
    * contribution rounded to 9 decimals and summed via `list(x ORDER BY
    * rank)` ordered folds, mirroring the Spark side's sorted-struct
    * aggregates term for term. */
  private def qz9Sql(cents: Seq[Seq[Float]]): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    val gain = "CASE g WHEN 3 THEN 7.0 WHEN 2 THEN 3.0 " +
      "WHEN 1 THEN 1.0 ELSE 0.0 END"
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |truth AS (
       |  SELECT q_id, n_id,
       |    CASE WHEN tr <= 5 THEN 3 WHEN tr <= 15 THEN 2 ELSE 1 END AS g
       |  FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "e.embedding")} DESC,
       |          e.vec_id) AS tr
       |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < 20) t
       |  WHERE tr <= 50),
       |ca AS (
       |  SELECT e.vec_id AS n_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS q_id, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 4),
       |sys AS (
       |  SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank
       |  FROM (
       |    SELECT qa.q_id, ca.n_id,
       |      ${cos("qe.embedding", "ne.embedding")} AS cos
       |    FROM qa JOIN ca ON qa.cell = ca.cell AND qa.q_id <> ca.n_id
       |    JOIN embeddings qe ON qe.vec_id = qa.q_id
       |    JOIN embeddings ne ON ne.vec_id = ca.n_id) s
       |  WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |  QUALIFY row_number() OVER w <= 10),
       |sysg AS (
       |  SELECT s.q_id, s.n_id, s.rank, coalesce(t.g, 0) AS g,
       |    CASE WHEN coalesce(t.g, 0) >= 1 THEN 1 ELSE 0 END AS rel
       |  FROM sys s LEFT JOIN truth t USING (q_id, n_id)),
       |withhits AS (
       |  SELECT *, sum(rel) OVER (PARTITION BY q_id ORDER BY rank
       |    ROWS UNBOUNDED PRECEDING) AS hits
       |  FROM sysg),
       |contrib AS (
       |  SELECT q_id, rank, rel,
       |    round(($gain) / log2(CAST(rank AS DOUBLE) + 1.0), 9) AS cd,
       |    CASE WHEN rel = 1
       |         THEN CAST(hits AS DOUBLE) / CAST(rank AS DOUBLE)
       |         ELSE 0.0 END AS ca
       |  FROM withhits),
       |per AS (
       |  SELECT q_id,
       |    list_reduce(list(cd ORDER BY rank), (a, b) -> a + b) AS dcg10,
       |    list_reduce(list(ca ORDER BY rank), (a, b) -> a + b) / 10.0
       |      AS ap10,
       |    CASE WHEN min(CASE WHEN rel = 1 THEN rank END) IS NULL
       |         THEN 0.0
       |         ELSE 1.0 / CAST(min(CASE WHEN rel = 1 THEN rank END)
       |                     AS DOUBLE) END AS mrr
       |  FROM contrib GROUP BY q_id),
       |idc AS (
       |  SELECT q_id,
       |    list_reduce(list(ci ORDER BY p), (a, b) -> a + b) AS idcg10
       |  FROM (
       |    SELECT q_id, p,
       |      round(($gain) / log2(CAST(p AS DOUBLE) + 1.0), 9) AS ci
       |    FROM (
       |      SELECT q_id, g, row_number() OVER (PARTITION BY q_id
       |        ORDER BY g DESC, n_id) AS p
       |      FROM truth) t
       |    WHERE p <= 10) c
       |  GROUP BY q_id)
       |SELECT per.q_id, per.dcg10, idc.idcg10,
       |  per.dcg10 / idc.idcg10 AS ndcg10, per.ap10, per.mrr
       |FROM per JOIN idc USING (q_id)
       |ORDER BY q_id""".stripMargin
  }

  /** DuckDB twin of the round-12 indexed qe35: qe4-pattern centroid
    * VALUES literals, corpus assigned to its argmax-cos cell, anchors
    * probe `nprobe` cells, candidates = cell equi-join minus self, exact
    * top-5 by (cos desc, n_id), then the vote/accuracy rollup unchanged
    * from the round-11 brute twin. The per-pair cosine recomputes the
    * norms inline — the same IEEE sequence as the Spark side's
    * precomputed-norm `dot/(na·nb)`, so scores match bit for bit. */
  private def qe35Sql(cents: Seq[Seq[Float]], nprobe: Int): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"($i, [${c.map(dlit).mkString(",")}])"
    }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH cent(cell, c_emb) AS (VALUES
       |$values),
       |ca AS (
       |  SELECT e.vec_id AS n_id, e.label AS n_label, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |qa AS (
       |  SELECT e.vec_id AS a_id, e.label AS a_label, c.cell
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id < 100
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell)
       |    <= $nprobe),
       |nn AS (
       |  SELECT qa.a_id, qa.a_label, ca.n_label
       |  FROM qa
       |  JOIN ca ON qa.cell = ca.cell AND qa.a_id <> ca.n_id
       |  JOIN embeddings qe ON qe.vec_id = qa.a_id
       |  JOIN embeddings ne ON ne.vec_id = ca.n_id
       |  QUALIFY row_number() OVER (PARTITION BY qa.a_id
       |    ORDER BY ${cos("qe.embedding", "ne.embedding")} DESC,
       |      ca.n_id) <= 5),
       |v AS (
       |  SELECT a_id, a_label, n_label,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM nn GROUP BY a_id, a_label, n_label),
       |p AS (
       |  SELECT a_id, a_label, n_label FROM v
       |  QUALIFY row_number() OVER (PARTITION BY a_id
       |    ORDER BY v DESC, n_label) = 1),
       |g AS (
       |  SELECT a_label AS label, CAST(count(*) AS BIGINT)
       |      AS n_anchors,
       |    CAST(sum(CASE WHEN n_label = a_label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_correct
       |  FROM p GROUP BY a_label)
       |SELECT label, n_anchors, n_correct,
       |  (1000 * n_correct) // n_anchors AS acc_milli
       |FROM g ORDER BY label""".stripMargin
  }

  /** DuckDB twin of the centroid-drift audit: BOTH fitted centroid
    * tables as VALUES literals (serving fit A from the shared cache,
    * refit B from qe36's own half-corpus cache), both assignments via
    * the same argmax-cos QUALIFY, then the per-A-cell majority under B
    * with the (count desc, cell asc) tie rule the Spark max_by uses. */
  private def qe36Sql(centsA: Seq[Seq[Float]],
                      centsB: Seq[Seq[Float]]): String = {
    def dlit(f: Float): String =
      new java.math.BigDecimal(f.toDouble).toPlainString + "E0"
    def values(cents: Seq[Seq[Float]]): String =
      cents.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.map(dlit).mkString(",")}])"
      }.mkString(",\n")
    def cos(a: String, b: String): String = cosSql(a, b)
    s"""WITH ca(cell, c_emb) AS (VALUES
       |${values(centsA)}),
       |cb(cell_b, cb_emb) AS (VALUES
       |${values(centsB)}),
       |fa AS (
       |  SELECT e.vec_id, c.cell
       |  FROM embeddings e CROSS JOIN ca c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.cell) <= 1),
       |fb AS (
       |  SELECT e.vec_id, c.cell_b
       |  FROM embeddings e CROSS JOIN cb c
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cos("e.embedding", "c.cb_emb")} DESC, c.cell_b)
       |    <= 1),
       |cnt AS (
       |  SELECT fa.cell, fb.cell_b, CAST(count(*) AS BIGINT) AS c
       |  FROM fa JOIN fb ON fb.vec_id = fa.vec_id
       |  GROUP BY fa.cell, fb.cell_b),
       |m AS (
       |  SELECT cell, cell_b, c FROM cnt
       |  QUALIFY row_number() OVER (PARTITION BY cell
       |    ORDER BY c DESC, cell_b) = 1),
       |t AS (SELECT cell, CAST(sum(c) AS BIGINT) AS n
       |      FROM cnt GROUP BY cell)
       |SELECT t.cell, t.n, m.cell_b AS major_b, m.c AS n_major,
       |  (1000 * (t.n - m.c)) // t.n AS split_milli
       |FROM t JOIN m ON m.cell = t.cell ORDER BY t.cell""".stripMargin
  }

  /** qz75's / qz76's dir captures for their metadata twins (the qe36
    * single-global rule: each query owns ONE key, captured when it
    * runs — never shared, never cross-mutated). */
  @volatile private var lastLayoutDir: Option[String] = None
  @volatile private var lastAdvisorDir: Option[String] = None
  @volatile private var lastCompactionDir: Option[String] = None

  private val LayoutTables =
    Seq("events", "documents", "embeddings", "lineitem", "orders")

  /** Shared footer walk for qz75/qz76, DISTRIBUTED (VERDICT r13 #3):
    * per (table, row group), rows and compressed/uncompressed byte
    * masses. The driver does only the LISTING (a planner's posture);
    * each footer PARSE — the per-file open/seek/read that dominates at
    * lake scale, where |files| is millions — runs in its own task.
    * Row groups are numbered globally per table across name-sorted
    * files, exactly like the old driver walk, but WITHOUT a one-task
    * window: `parallelize` splits the sorted file list into contiguous
    * slices, a first (tiny: |partitions|×|tables| rows collected) pass
    * counts row groups per slice, and the per-slice base offsets make
    * the renumbering embarrassingly parallel. The footers are parsed
    * twice (offset pass + emit pass) — metadata-sized reads, cheaper
    * than caching the parse across two jobs. */
  private def footerFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf())
    val files: Seq[(String, String)] = LayoutTables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf.value)
      val fl =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath).sortBy(_.getName).toSeq
        else Seq(p)
      fl.map(f => (t, f.toString))
    }
    val nPart = math.min(math.max(files.size, 1),
      s.sparkContext.defaultParallelism)
    val perFile = s.sparkContext.parallelize(files, nPart)
      .map { case (t, path) =>
        import scala.jdk.CollectionConverters._
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(path), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        // byte masses as COLUMN-CHUNK sums, not RowGroup.total_byte_size:
        // that thrift field is writer-dependent (pyarrow writes the
        // chunk-sum, DuckDB writes page-header-inclusive sizes), while
        // the per-chunk total_uncompressed_size is what every footer
        // reader — including the parquet_metadata twin — agrees on
        val blocks =
          try r.getFooter.getBlocks.asScala.toList.map { b =>
            val cols = b.getColumns.asScala
            (b.getRowCount,
              cols.map(_.getTotalSize).sum,
              cols.map(_.getTotalUncompressedSize).sum)
          } finally r.close()
        (t, blocks)
      }
    // per-slice per-table row-group counts → base offsets (the only
    // driver-side state: |partitions| × |tables| longs)
    val sliceCounts = perFile.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (t, bs) =>
        m(t) = m.getOrElse(t, 0L) + bs.length
      }
      Iterator((pid, m.toMap))
    }.collect().sortBy(_._1)
    val base = {
      val run = scala.collection.mutable.Map.empty[String, Long]
      val b = Map.newBuilder[(Int, String), Long]
      for ((pid, m) <- sliceCounts; t <- LayoutTables; c <- m.get(t)) {
        b += (((pid, t), run.getOrElse(t, 0L)))
        run(t) = run.getOrElse(t, 0L) + c
      }
      b.result()
    }
    perFile.mapPartitionsWithIndex { (pid, it) =>
      val off = scala.collection.mutable.Map.empty[String, Long]
      it.flatMap { case (t, bs) =>
        val start = off.getOrElse(t, base.getOrElse((pid, t), 0L))
        off(t) = start + bs.length
        bs.zipWithIndex.map { case ((n, c, u), i) =>
          (t, start + i, n, c, u)
        }
      }
    }.toDF("tbl", "row_group", "n_rows", "comp_bytes", "uncomp_bytes")
  }

  /** A table's parquet_metadata() source path: the bare file, or a
    * glob when the table is laid out as a DIRECTORY of part files
    * (ADVICE r13: the bare path would fail or collapse per-file
    * row_group_id values under GROUP BY). */
  private def metaPath(dir: String, t: String): String =
    if (new java.io.File(s"$dir/$t.parquet").isDirectory)
      s"$dir/$t.parquet/*.parquet"
    else s"$dir/$t.parquet"

  /** One table's footer rows through `parquet_metadata`, keyed by
    * (file_name, row_group_id) and renumbered globally across
    * name-sorted files — mirroring footerFrame's numbering exactly. */
  private def metaGroupsSql(dir: String, t: String): String =
    s"""SELECT '$t' AS tbl,
       |  CAST(row_number() OVER (ORDER BY file_name, row_group_id)
       |    - 1 AS BIGINT) AS row_group,
       |  n_rows, comp_bytes, uncomp_bytes
       |FROM (
       |  SELECT file_name, row_group_id,
       |    CAST(min(row_group_num_rows) AS BIGINT) AS n_rows,
       |    CAST(sum(total_compressed_size) AS BIGINT) AS comp_bytes,
       |    CAST(sum(total_uncompressed_size) AS BIGINT) AS uncomp_bytes
       |  FROM parquet_metadata('${metaPath(dir, t)}')
       |  GROUP BY file_name, row_group_id)""".stripMargin

  /** qz77's file-grain walk: per (table, file-in-name-order), the
    * compressed payload bytes (column-chunk sums — the quantity a
    * compaction pass bins on, identical in both engines) plus the
    * running per-table byte total BEFORE this file. Same distributed
    * posture as [[footerFrame]] — driver lists, one task per file
    * parses, per-slice subtotals give exact prefix sums with no
    * one-task window. */
  private def fileBytesFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      s.sessionState.newHadoopConf())
    val files: Seq[(String, Long, String)] = LayoutTables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(conf.value)
      val fl =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
            .map(_.getPath).sortBy(_.getName).toSeq
        else Seq(p)
      fl.zipWithIndex.map { case (f, i) => (t, i.toLong, f.toString) }
    }
    val nPart = math.min(math.max(files.size, 1),
      s.sparkContext.defaultParallelism)
    val perFile = s.sparkContext.parallelize(files, nPart)
      .map { case (t, fidx, path) =>
        import scala.jdk.CollectionConverters._
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(path), conf.value)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val bytes =
          try r.getFooter.getBlocks.asScala.iterator
            .flatMap(_.getColumns.asScala).map(_.getTotalSize).sum
          finally r.close()
        (t, fidx, bytes)
      }
    val sliceSums = perFile.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (t, _, b) => m(t) = m.getOrElse(t, 0L) + b }
      Iterator((pid, m.toMap))
    }.collect().sortBy(_._1)
    val base = {
      val run = scala.collection.mutable.Map.empty[String, Long]
      val b = Map.newBuilder[(Int, String), Long]
      for ((pid, m) <- sliceSums; t <- LayoutTables; c <- m.get(t)) {
        b += (((pid, t), run.getOrElse(t, 0L)))
        run(t) = run.getOrElse(t, 0L) + c
      }
      b.result()
    }
    perFile.mapPartitionsWithIndex { (pid, it) =>
      val off = scala.collection.mutable.Map.empty[String, Long]
      it.map { case (t, fidx, b) =>
        val before = off.getOrElse(t, base.getOrElse((pid, t), 0L))
        off(t) = before + b
        (t, fidx, b, before)
      }
    }.toDF("tbl", "fidx", "bytes", "cum_before")
  }

  /** DuckDB twin of qz75: the SAME files' footers through
    * `parquet_metadata` — per row group, rows and the column-chunk
    * compressed/uncompressed sums. */
  private def qz75Sql(dir: String): String =
    LayoutTables.map(t =>
      s"SELECT tbl, row_group, n_rows, comp_bytes, uncomp_bytes FROM (\n" +
        metaGroupsSql(dir, t) + "\n)")
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY tbl, row_group")

  /** DuckDB twin of qz76: the same footer masses rolled to per-table
    * advice with identical integer arithmetic. */
  private def qz76Sql(dir: String): String = {
    val union = LayoutTables.map { t =>
      s"""SELECT tbl, n_rows, comp_bytes AS comp FROM (
         |${metaGroupsSql(dir, t)}
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH g AS (
       |$union
       |),
       |a AS (
       |  SELECT tbl, CAST(count(*) AS BIGINT) AS n_groups,
       |    CAST(sum(n_rows) AS BIGINT) AS n_rows,
       |    CAST(sum(comp) AS BIGINT) AS comp_bytes
       |  FROM g GROUP BY tbl)
       |SELECT tbl, n_groups, n_rows, comp_bytes,
       |  (comp_bytes + 134217727) // 134217728 AS files_target,
       |  n_rows // ((comp_bytes + 134217727) // 134217728)
       |    AS rows_per_file,
       |  comp_bytes // n_groups < 8388608 AS too_granular
       |FROM a WHERE comp_bytes > 0 ORDER BY tbl""".stripMargin
  }

  /** DuckDB twin of qz77: per-file column-chunk byte sums through
    * `parquet_metadata`, name-ordered prefix sums, the identical
    * bin = cum_before // 128 MB packing and per-table rollup. */
  private def qz77Sql(dir: String): String = {
    val union = LayoutTables.map { t =>
      s"""SELECT '$t' AS tbl, file_name,
         |  CAST(sum(total_compressed_size) AS BIGINT) AS bytes
         |FROM parquet_metadata('${metaPath(dir, t)}')
         |GROUP BY file_name""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (
       |$union
       |),
       |c AS (
       |  SELECT tbl, bytes,
       |    coalesce(sum(bytes) OVER (PARTITION BY tbl
       |      ORDER BY file_name
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM f),
       |b AS (
       |  SELECT tbl, cum_before // 134217728 AS bin,
       |    CAST(count(*) AS BIGINT) AS nf,
       |    CAST(sum(bytes) AS BIGINT) AS bin_bytes
       |  FROM c GROUP BY tbl, bin),
       |a AS (
       |  SELECT tbl, CAST(sum(nf) AS BIGINT) AS n_files,
       |    CAST(count(*) AS BIGINT) AS n_bins,
       |    CAST(sum(bin_bytes) AS BIGINT) AS total_bytes,
       |    CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes
       |  FROM b GROUP BY tbl)
       |SELECT tbl, n_files, n_bins, total_bytes, max_bin_bytes,
       |  (1000000 * total_bytes) // (n_bins * 134217728) AS fill_ppm
       |FROM a ORDER BY tbl""".stripMargin
  }

  def oracle: Map[String, String] = staticOracle ++
    lastLayoutDir.map(d =>
      Map("qz75_parquet_layout" -> qz75Sql(d))).getOrElse(Map.empty) ++
    lastAdvisorDir.map(d =>
      Map("qz76_partition_advisor" -> qz76Sql(d))).getOrElse(Map.empty) ++
    lastCompactionDir.map(d =>
      Map("qz77_compaction_plan" -> qz77Sql(d))).getOrElse(Map.empty) ++
    (for {
      (servKey, halfDir) <- lastQe36Keys
      a <- Similarity.fittedCentroidsFloatFor(servKey)
      b <- halfCentCache.get(halfDir).map(_.map(_.map(_.toFloat)))
    } yield Map("qe36_centroid_drift" -> qe36Sql(a, b)))
      .getOrElse(Map.empty) ++
    Similarity.lastFittedCentroidsFloat
      .map(c => Map(
        "qe35_knn_accuracy" -> qe35Sql(c, nprobe = 8),
        "qe4_ann_ivf" -> qe4Sql(c, nprobe = 8, k = 5),
        "qz9_ndcg" -> qz9Sql(c),
        "qe7_range_ivf" -> qe7Sql(c, nprobe = 8, minCos = 0.25),
        "qe11_semdedup" -> qe11Sql(c, tau = 0.4, cellCap = 4096),
        "qz1_semdedup_hotcap" -> qe11Sql(c, tau = 0.4, cellCap = 24),
        "qe25_cellcap_sweep" -> qe25Sql(c),
        "qe12_diverse_topk" -> qe12Sql(c, nprobe = 8),
        "qe17_nprobe_sweep" -> qe17Sql(c),
        "qe19_cell_balance" -> qe19Sql(c),
        "qe29_silhouette" -> qe29Sql(c),
        "qe30_cell_merge_plan" -> qe30Sql(c),
        "qe28_knn_graph" -> qe28Sql(c),
        "qp7_embedding_pipeline" -> qp7Sql(c),
        "qx46_cluster_sample" -> qx46Sql(c, quota = 8)))
      .getOrElse(Map.empty) ++
    Similarity.lastFittedPqCodebooks
      .map(cb => Map("qe8_pq_adc" -> qe8Sql(cb, k = 5, shortlist = 100)))
      .getOrElse(Map.empty) ++
    lastPqTransferCb
      .map(cb => Map("qe27_pq_transfer" -> qe27Sql(cb)))
      .getOrElse(Map.empty) ++
    (for {
      c <- Similarity.lastFittedCentroidsFloat
      cb <- Similarity.lastFittedPqCodebooks
    } yield Map("qe9_ivfadc" ->
      qe9Sql(c, cb, nprobe = 8, k = 5, shortlist = 100)))
      .getOrElse(Map.empty) ++
    (for {
      c <- Similarity.lastFittedCentroidsFloat
      rcb <- Similarity.lastFittedResidualPqCodebooks
    } yield Map("qe26_ivfpq_residual" ->
      qe26Sql(c, rcb, nprobe = 8, k = 5, shortlist = 100)))
      .getOrElse(Map.empty) ++
    lastFittedTopPc.map { case (mu, v) =>
      Map("qe33_top_pc" -> qe33Sql(mu, v),
        "qe34_abtt_isotropy" -> qe34Sql(mu, v)) }.getOrElse(Map.empty)

  private def staticOracle: Map[String, String] = Map(
    // §2.25 — CUSUM via the reflection identity: the same two windows
    "qz59_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY day),
        |st AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(count(*) AS BIGINT) AS nd FROM daily),
        |d AS (
        |  SELECT day, x, (1000000 * sx) // nd AS mu_micro,
        |    x * 1000000 - (1000000 * sx) // nd
        |      - ((1000000 * sx) // nd) // 4 AS dev,
        |    x * 1000000 - (1000000 * sx) // nd
        |      + ((1000000 * sx) // nd) // 4 AS devn
        |  FROM daily CROSS JOIN st),
        |c AS (
        |  SELECT day, x, mu_micro,
        |    CAST(sum(dev) OVER w AS BIGINT) AS p,
        |    CAST(sum(devn) OVER w AS BIGINT) AS q
        |  FROM d WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        |r AS (
        |  SELECT day, x, mu_micro, p, q,
        |    least(min(p) OVER w, 0) AS mp,
        |    greatest(max(q) OVER w, 0) AS mq
        |  FROM c WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
        |SELECT day, x, p - mp AS s_pos_micro, mq - q AS s_neg_micro,
        |  (p - mp) > 4 * mu_micro AS alarm_up,
        |  (mq - q) > 4 * mu_micro AS alarm_down
        |FROM r ORDER BY day""".stripMargin,

    // pow2 gap buckets via the same length(bin()) integer trick
    "qz60_interevent_hist" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
        |g AS (
        |  SELECT (us - lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id)) // 1000000 AS gap_s
        |  FROM e),
        |b AS (
        |  SELECT CASE WHEN gap_s <= 0 THEN 0
        |    ELSE CAST(length(bin(gap_s)) AS BIGINT) END AS bucket, gap_s
        |  FROM g WHERE gap_s IS NOT NULL),
        |h AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |    min(gap_s) AS min_s, max(gap_s) AS max_s
        |  FROM b GROUP BY bucket),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM h)
        |SELECT bucket, n, min_s, max_s, (1000000 * n) // tn AS share_ppm
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin,

    // floor-mean-centered deviations, one day-grain join per lag
    "qz61_acf" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY day),
        |st AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(count(*) AS BIGINT) AS nd FROM daily),
        |c AS (SELECT day, x - sx // nd AS cx
        |      FROM daily CROSS JOIN st),
        |den AS (SELECT CAST(sum(cx * cx) AS BIGINT) AS dd FROM c),
        |l AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag_d),
        |j AS (
        |  SELECT l.lag_d, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(a.cx * b.cx) AS BIGINT) AS num
        |  FROM l JOIN c a ON TRUE JOIN c b ON b.day = a.day + l.lag_d
        |  GROUP BY l.lag_d)
        |SELECT lag_d, n_pairs, num, dd AS den,
        |  CAST(num AS DOUBLE) / CAST(dd AS DOUBLE) AS acf
        |FROM j CROSS JOIN den ORDER BY lag_d""".stripMargin,

    // JSON path extraction mirrored
    "qz62_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(k) AS k_min, max(k) AS k_max,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  CAST(count(DISTINCT k) AS BIGINT) AS k_card
        |FROM (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // 8-token windows, 60-bit md5 gram keys (the qs6 fold), per-source
    // doc-frequency rollup
    "qx85_boilerplate_windows" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_transform(range(len(toks) - 7),
        |      i -> array_to_string(
        |        toks[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' ')) AS s
        |  FROM tok),
        |g AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(s,
        |    w -> list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(w), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)))) AS gh
        |  FROM sh),
        |sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM tok GROUP BY source),
        |df AS (SELECT source, gh, CAST(count(*) AS BIGINT) AS ddf
        |       FROM g GROUP BY source, gh)
        |SELECT df.source, max(sn.n_docs) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_window_types,
        |  CAST(sum(CASE WHEN df.ddf * 2 >= sn.n_docs THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_boiler_types,
        |  CAST(sum(CASE WHEN df.ddf * 2 >= sn.n_docs THEN df.ddf
        |    ELSE 0 END) AS BIGINT) AS boiler_doc_hits
        |FROM df JOIN sn ON sn.source = df.source
        |GROUP BY df.source ORDER BY df.source""".stripMargin,

    // adjacent-pair counts, unigram counts, exact micro/milli ratios
    "qx86_bigram_lift" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |bi AS (
        |  SELECT unnest(list_transform(range(len(toks) - 1),
        |    i -> {'a': toks[CAST(i + 1 AS INT)],
        |          'b': toks[CAST(i + 2 AS INT)]})) AS p
        |  FROM tok),
        |bc AS (SELECT p.a AS a, p.b AS b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bi GROUP BY p.a, p.b HAVING count(*) >= 5),
        |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS nt
        |       FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
        |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS ntok FROM uc)
        |SELECT a, b, n_ab,
        |  (1000000 * n_ab) // ua.nt AS p_b_a_micro,
        |  (1000 * n_ab * ntok) // (ua.nt * ub.nt) AS lift_milli
        |FROM bc JOIN uc ua ON ua.t = bc.a JOIN uc ub ON ub.t = bc.b
        |CROSS JOIN tot
        |ORDER BY lift_milli DESC, a, b LIMIT 20""".stripMargin,

    // winnowing: same grams, same window min, same rightmost-argmin
    // selection (the twin's band join is plain BETWEEN — priceable at
    // fixture scale where the Spark side block-bands it)
    "qx87_winnowing" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_transform(range(len(toks) - 2),
        |    i -> array_to_string(
        |      toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')) AS s
        |  FROM tok),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(s[CAST(i + 1 AS INT)]), CAST(j AS INT), 1)) - 1
        |        AS BIGINT)), (a, b) -> a * 16 + b) AS h
        |  FROM (SELECT doc_id, s, unnest(range(len(s))) AS i FROM sh)),
        |w AS (
        |  SELECT doc_id, pos AS i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS ng
        |  FROM g),
        |wf AS (SELECT doc_id, i, wmin, ng FROM w WHERE i <= ng - 4),
        |sel AS (
        |  SELECT DISTINCT doc_id, ng, p FROM (
        |    SELECT wf.doc_id, wf.ng, wf.i, max(g.pos) AS p
        |    FROM wf JOIN g ON g.doc_id = wf.doc_id
        |      AND g.pos BETWEEN wf.i AND wf.i + 3 AND g.h = wf.wmin
        |    GROUP BY wf.doc_id, wf.ng, wf.i))
        |SELECT doc_id, max(ng) AS n_grams, max(ng) - 3 AS n_windows,
        |  CAST(count(*) AS BIGINT) AS n_fps,
        |  (1000 * CAST(count(*) AS BIGINT)) // (max(ng) - 3)
        |    AS density_milli
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // row-local squared-norm fold (same left-to-right double fold as
    // the native kernel), type-1 quartiles from the distinct-value
    // histogram, integer Tukey fences
    "qe37_norm_outliers" ->
      (s"""WITH m AS (
        |  SELECT label,
        |    CAST(floor(${CosSql.format("embedding", "embedding")}
        |      * 1000000.0) AS BIGINT) AS m
        |  FROM embeddings),
        |h AS (SELECT label, m, CAST(count(*) AS BIGINT) AS c
        |      FROM m GROUP BY label, m),
        |cum AS (SELECT label, m, c,
        |  sum(c) OVER (PARTITION BY label ORDER BY m
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY label) AS total FROM h),
        |f AS (SELECT label,
        |  min(CASE WHEN cum * 100 >= total * 25 THEN m END) AS q1,
        |  min(CASE WHEN cum * 100 >= total * 75 THEN m END) AS q3
        |  FROM cum GROUP BY label),
        |f2 AS (SELECT label, q1, q3,
        |  q1 - (3 * (q3 - q1)) // 2 AS lo,
        |  q3 + (3 * (q3 - q1)) // 2 AS hi FROM f)
        |SELECT m.label, CAST(count(*) AS BIGINT) AS n,
        |  max(q1) AS q1_micro, max(q3) AS q3_micro,
        |  CAST(sum(CASE WHEN m.m < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN m.m > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high
        |FROM m JOIN f2 ON f2.label = m.label
        |GROUP BY m.label ORDER BY m.label""".stripMargin),

    // fenced exact top-5 digraph, reciprocity via the reversed-pair
    // left join
    "qe38_knn_reciprocity" ->
      (s"""WITH f AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  WHERE vec_id < 100),
        |g AS (
        |  SELECT a.vec_id AS q_id, a.label AS q_label,
        |    c.vec_id AS n_id
        |  FROM f a JOIN f c ON c.vec_id <> a.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY ${cosSql("a.embedding", "c.embedding")} DESC,
        |      c.vec_id) <= 5),
        |rec AS (
        |  SELECT g.q_label,
        |    CASE WHEN r.q_id IS NULL THEN 0 ELSE 1 END AS is_rec
        |  FROM g LEFT JOIN g r
        |    ON r.q_id = g.n_id AND r.n_id = g.q_id)
        |SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(is_rec) AS BIGINT) AS n_reciprocal,
        |  (1000 * CAST(sum(is_rec) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS recip_milli
        |FROM rec GROUP BY q_label ORDER BY label""".stripMargin),

    // per-doc (gram TYPE, count) rollups for k=2 and k=3, same 60-bit
    // md5 fold, capped milli shares
    "qx88_gopher_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g2 AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |    unnest(list_transform(range(len(toks) - 1),
        |      i -> list_reduce(list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |          substr(md5(array_to_string(
        |            toks[CAST(i + 1 AS INT):CAST(i + 2 AS INT)], ' ')),
        |            CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b))) AS g
        |  FROM tok),
        |c2 AS (SELECT doc_id, n_toks, g, CAST(count(*) AS BIGINT) AS c
        |       FROM g2 GROUP BY doc_id, n_toks, g),
        |t2 AS (SELECT doc_id,
        |         least((2000 * max(c)) // max(n_toks), 1000)
        |           AS top2gram_milli
        |       FROM c2 GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |    unnest(list_transform(range(len(toks) - 2),
        |      i -> list_reduce(list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |          substr(md5(array_to_string(
        |            toks[CAST(i + 1 AS INT):CAST(i + 3 AS INT)], ' ')),
        |            CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b))) AS g
        |  FROM tok),
        |c3 AS (SELECT doc_id, n_toks, g, CAST(count(*) AS BIGINT) AS c
        |       FROM g3 GROUP BY doc_id, n_toks, g),
        |t3 AS (SELECT doc_id,
        |         least((1000 * CAST(sum(CASE WHEN c >= 2 THEN 3 * c
        |           ELSE 0 END) AS BIGINT)) // max(n_toks), 1000)
        |           AS dup3gram_milli
        |       FROM c3 GROUP BY doc_id)
        |SELECT t2.doc_id, top2gram_milli, dup3gram_milli,
        |  (top2gram_milli > 180 OR dup3gram_milli > 300) AS flagged
        |FROM t2 JOIN t3 ON t3.doc_id = t2.doc_id
        |ORDER BY t2.doc_id""".stripMargin,

    // qm18's frame staging (full frames), lag inside the doc
    // partition, one integer zip fold per consecutive pair
    "qm21_frame_motion" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    CAST(length(fh) // 2 AS BIGINT) AS flen,
        |    list_transform(range(0, length(fh) // 2),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |p AS (
        |  SELECT doc_id, bv,
        |    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pv
        |  FROM h WHERE flen = 16),
        |d AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(list_transform(list_zip(bv, pv),
        |      q -> abs(q[1] - q[2])), (a, b) -> a + b) AS BIGINT) AS d
        |  FROM p WHERE pv IS NOT NULL)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(d) AS BIGINT) AS sum_abs_delta,
        |  (1000 * CAST(sum(d) AS BIGINT))
        |    // (255 * 16 * CAST(count(*) AS BIGINT)) AS motion_milli
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // exact-equality grouping on the vector VALUE, constant-grouped so
    // an empty corpus emits zero rows
    "qe39_exact_dup_embeddings" ->
      """WITH g AS (SELECT embedding, CAST(count(*) AS BIGINT) AS c
        |           FROM embeddings GROUP BY embedding)
        |SELECT CAST(sum(c) AS BIGINT) AS n_vectors,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_dup_vectors,
        |  max(c) AS max_group
        |FROM (SELECT 1 AS one, c FROM g) GROUP BY one""".stripMargin,

    // qz52's trend/dow machinery, OFFSET-trick means, exact Σdev²
    // ratio
    "qz63_seasonality_strength" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY day),
        |t AS (
        |  SELECT day, day % 7 AS dow,
        |    x * 1000 - (1000 * CAST(sum(x) OVER w AS BIGINT)) // 7
        |      AS detr_milli
        |  FROM daily
        |  WINDOW w AS (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |  QUALIFY count(*) OVER w = 7),
        |seas AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(detr_milli) AS BIGINT) AS sd
        |  FROM t GROUP BY dow),
        |s2 AS (SELECT dow, (sd + nd * 1000000000000000) // nd
        |         - 1000000000000000 AS seas_milli FROM seas),
        |r AS (SELECT detr_milli, detr_milli - seas_milli AS rem_milli
        |      FROM t JOIN s2 ON s2.dow = t.dow),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(detr_milli) AS BIGINT) AS sdt,
        |    CAST(sum(rem_milli) AS BIGINT) AS srm FROM r),
        |m2 AS (SELECT n,
        |    (sdt + n * 1000000000000000) // n - 1000000000000000 AS mdt,
        |    (srm + n * 1000000000000000) // n - 1000000000000000 AS mrm
        |  FROM m),
        |ss AS (
        |  SELECT n,
        |    CAST(sum((detr_milli - mdt) * (detr_milli - mdt))
        |      AS BIGINT) AS ss_detr,
        |    CAST(sum((rem_milli - mrm) * (rem_milli - mrm))
        |      AS BIGINT) AS ss_rem
        |  FROM r CROSS JOIN m2 GROUP BY n)
        |SELECT n AS n_days, ss_detr, ss_rem,
        |  CAST(CASE WHEN ss_detr > 0
        |    THEN greatest(0, 1000 - (1000 * ss_rem) // ss_detr)
        |    ELSE 0 END AS BIGINT) AS strength_milli
        |FROM ss""".stripMargin,

    // user-grain distinct-day counts, k-grain rollup, exact ppm
    // the same closed-form water level over sorted caps
    // label-equijoin candidates, the shared cosine fold, per-probe rank
    "qe42_filtered_knn" ->
      (s"""WITH p AS (
          |  SELECT vec_id AS q_id, embedding AS q_emb, label AS want
          |  FROM embeddings
          |  WHERE vec_id % 50 = 0 AND vec_id < 2000),
          |c AS (
          |  SELECT vec_id AS n_id, embedding AS n_emb, label
          |  FROM embeddings),
          |j AS (
          |  SELECT q_id, CAST(label AS BIGINT) AS label, n_id,
          |    ${cosSql("q_emb", "n_emb")} AS cos
          |  FROM c JOIN p ON label = want AND n_id <> q_id),
          |r AS (
          |  SELECT q_id, label, n_id, cos,
          |    CAST(row_number() OVER (PARTITION BY q_id
          |      ORDER BY cos DESC, n_id) AS BIGINT) AS rank
          |  FROM j)
          |SELECT q_id, label, n_id, rank, cos
          |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // the same co-cluster pair set judged under both split policies;
    // the cluster-hash arm must read zero
    "qx95_split_leakage" ->
      ((ShingleCte + ClusterChainCte +
        """,
          |asg AS (
          |  SELECT doc_id, cluster,
          |    list_reduce(list_transform(range(1, 16),
          |      j -> CAST(strpos('0123456789abcdef',
          |        substr(md5(CAST(cluster AS VARCHAR)),
          |          CAST(j AS INT), 1)) - 1 AS BIGINT)),
          |      (x, y) -> x * 16 + y) % 10 AS cb,
          |    list_reduce(list_transform(range(1, 16),
          |      j -> CAST(strpos('0123456789abcdef',
          |        substr(md5(CAST(doc_id AS VARCHAR)),
          |          CAST(j AS INT), 1)) - 1 AS BIGINT)),
          |      (x, y) -> x * 16 + y) % 10 AS db
          |  FROM clus),
          |t AS (
          |  SELECT doc_id, cluster,
          |    CASE WHEN cb < 8 THEN 'train' WHEN cb < 9 THEN 'val'
          |      ELSE 'test' END AS cs,
          |    CASE WHEN db < 8 THEN 'train' WHEN db < 9 THEN 'val'
          |      ELSE 'test' END AS ds
          |  FROM asg),
          |pr AS (
          |  SELECT a.cs AS si_c, b.cs AS sj_c, a.ds AS si_d,
          |    b.ds AS sj_d
          |  FROM t a JOIN t b
          |    ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
          |g AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          |    CAST(sum(CASE WHEN si_c <> sj_c THEN 1 ELSE 0 END)
          |      AS BIGINT) AS cross_cluster_split,
          |    CAST(sum(CASE WHEN si_d <> sj_d THEN 1 ELSE 0 END)
          |      AS BIGINT) AS cross_doc_split
          |  FROM pr)
          |SELECT n_pairs, cross_cluster_split, cross_doc_split,
          |  (1000000 * cross_doc_split) // n_pairs AS doc_leak_ppm
          |FROM g WHERE n_pairs > 0""".stripMargin)
        .replace("WITH tok AS", "WITH RECURSIVE tok AS")),

    // decontam gate + cluster survivors + doc-hash split + chunk
    // arithmetic, composed from the qx96/qx93/qp9 twin pieces
    "qp11_safe_export" ->
      ((ShingleCte + ClusterChainCte +
        """,
          |keepers AS (SELECT doc_id FROM clus WHERE doc_id = cluster),
          |tok13 AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 13),
          |g13 AS (
          |  SELECT doc_id, unnest(list_transform(range(len(toks) - 12),
          |    i -> list_reduce(toks[i+1:i+13], (a, b) -> a || ' ' || b)))
          |    AS g
          |  FROM tok13),
          |gh13 AS (
          |  SELECT DISTINCT doc_id, list_reduce(list_transform(
          |      range(1, 16),
          |    i -> CAST(strpos('0123456789abcdef',
          |      substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
          |    (a, b) -> a * 16 + b) AS h
          |  FROM g13),
          |ev AS (
          |  SELECT DISTINCT doc_id AS eval_id, h
          |  FROM gh13 WHERE doc_id % 31 = 0),
          |cont AS (
          |  SELECT DISTINCT gh13.doc_id FROM gh13 JOIN ev USING (h)
          |  WHERE gh13.doc_id <> ev.eval_id),
          |kd AS (
          |  SELECT d.doc_id, d.source,
          |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
          |    list_reduce(list_transform(range(1, 16),
          |      j -> CAST(strpos('0123456789abcdef',
          |        substr(md5(CAST(d.doc_id AS VARCHAR)),
          |          CAST(j AS INT), 1)) - 1 AS BIGINT)),
          |      (x, y) -> x * 16 + y) % 10 AS b
          |  FROM documents d
          |  JOIN keepers USING (doc_id)
          |  WHERE d.doc_id NOT IN (SELECT doc_id FROM cont)
          |    AND len(string_split(d.text, ' ')) >= 1),
          |ck AS (
          |  SELECT CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
          |      ELSE 'test' END AS split, source, n,
          |    (n + 47) // 48 AS n_chunks,
          |    list_reduce(list_transform(range((n + 47) // 48),
          |      k -> least(CAST(64 AS BIGINT), n - k * 48)),
          |      (a, b) -> a + b) AS chunk_toks
          |  FROM kd)
          |SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n) AS BIGINT) AS n_toks,
          |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
          |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_toks
          |FROM ck GROUP BY split, source
          |ORDER BY split, source""".stripMargin)
        .replace("WITH tok AS", "WITH RECURSIVE tok AS")),

    // the same 60-bit gram keys (qx16's md5-prefix fold), eval = all
    // distinct 13-grams of every 31st doc, self-hits excluded
    "qx96_eval_decontam" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 13),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 12),
        |    i -> list_reduce(toks[i+1:i+13], (a, b) -> a || ' ' || b)))
        |    AS g
        |  FROM tok),
        |gh AS (
        |  SELECT DISTINCT doc_id, list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM g),
        |ev AS (
        |  SELECT DISTINCT doc_id AS eval_id, h
        |  FROM gh WHERE doc_id % 31 = 0),
        |hits AS (
        |  SELECT gh.doc_id, ev.eval_id, gh.h
        |  FROM gh JOIN ev USING (h) WHERE gh.doc_id <> ev.eval_id)
        |SELECT doc_id,
        |  CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_hits,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_gram_hits
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // qx96's hit set rolled to the eval-item grain
    "qx97_eval_item_report" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 13),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 12),
        |    i -> list_reduce(toks[i+1:i+13], (a, b) -> a || ' ' || b)))
        |    AS g
        |  FROM tok),
        |gh AS (
        |  SELECT DISTINCT doc_id, list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM g),
        |ev AS (
        |  SELECT DISTINCT doc_id AS eval_id, h
        |  FROM gh WHERE doc_id % 31 = 0),
        |hits AS (
        |  SELECT gh.doc_id, ev.eval_id, gh.h
        |  FROM gh JOIN ev USING (h) WHERE gh.doc_id <> ev.eval_id)
        |SELECT eval_id,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_grams
        |FROM hits GROUP BY eval_id ORDER BY eval_id""".stripMargin,

    // the staged 4-shard arrival clock, the day-grain watermark carry,
    // and the hour-grain lateness histogram
    "qz74_watermark_audit" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS us, event_id % 4 AS shard
        |  FROM events),
        |e2 AS (
        |  SELECT us,
        |    (us + shard * 7200000000) // 86400000000 AS arr_day
        |  FROM ev),
        |dm AS (SELECT arr_day, max(us) AS dmax FROM e2 GROUP BY 1),
        |carry AS (
        |  SELECT arr_day, max(dmax) OVER (ORDER BY arr_day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM dm),
        |lat AS (
        |  SELECT greatest(0, coalesce(wm - us, 0)) // 3600000000
        |    AS late_h
        |  FROM e2 JOIN carry USING (arr_day)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lat)
        |SELECT late_h, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) * 1000000 // total AS BIGINT) AS ppm
        |FROM lat CROSS JOIN tot
        |GROUP BY late_h, total ORDER BY late_h""".stripMargin,

    // the qx63 staging/scrub chain gated by the qz72 class-size rule,
    // rolled into the per-source export manifest
    "qp10_privacy_export" ->
      """WITH staged AS (
        |  SELECT doc_id, lang, source, n_chars // 1000 AS len_kb,
        |    text || ' contact ' || source ||
        |    '@example.com see http://' || source || '.example.com/p/' ||
        |    CAST(doc_id AS VARCHAR) || ' session ' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 21, 12) ||
        |    ' order #' || CAST(doc_id * 37 AS VARCHAR) AS t0
        |  FROM documents),
        |cls AS (
        |  SELECT lang, source, len_kb, CAST(count(*) AS BIGINT) AS sz
        |  FROM staged GROUP BY 1, 2, 3),
        |gated AS (
        |  SELECT s.*, c.sz FROM staged s
        |  JOIN cls c USING (lang, source, len_kb)),
        |s1 AS (SELECT source, sz,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_email,
        |  regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t1 FROM gated WHERE sz >= 5),
        |s2 AS (SELECT source, sz, n_email,
        |  CAST(len(regexp_extract_all(t1, 'https?://[^\s]+'))
        |    AS BIGINT) AS n_url,
        |  regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT source, sz, n_email, n_url,
        |  CAST(len(regexp_extract_all(t2,
        |    '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-' ||
        |    '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')) AS BIGINT) AS n_uuid,
        |  regexp_replace(t2,
        |    '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-' ||
        |    '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '<UUID>', 'g') AS t3
        |  FROM s2),
        |s4 AS (SELECT source, sz, n_email, n_url, n_uuid,
        |  CAST(len(regexp_extract_all(t3, '[0-9]{2,}')) AS BIGINT)
        |    AS n_num,
        |  regexp_replace(t3, '[0-9]{2,}', '<NUM>', 'g') AS t4 FROM s3),
        |outm AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS docs_out,
        |    CAST(sum(len(t4)) AS BIGINT) AS chars_out,
        |    CAST(sum(n_email + n_url + n_uuid + n_num) AS BIGINT)
        |      AS pii_masked
        |  FROM s4 GROUP BY source),
        |inm AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS docs_in
        |  FROM staged GROUP BY source),
        |supp AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS docs_suppressed
        |  FROM gated WHERE sz < 5 GROUP BY source)
        |SELECT i.source, i.docs_in,
        |  coalesce(s.docs_suppressed, 0) AS docs_suppressed,
        |  coalesce(o.docs_out, 0) AS docs_out,
        |  coalesce(o.chars_out, 0) AS chars_out,
        |  coalesce(o.pii_masked, 0) AS pii_masked
        |FROM inm i LEFT JOIN supp s USING (source)
        |LEFT JOIN outm o USING (source)
        |ORDER BY source""".stripMargin,

    // two per-key multiplicity rollups met at key grain; the join the
    // forecast prices is never executed
    "qz71_join_fanout" ->
      """WITH a AS (
        |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS a
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT o_custkey % 200 AS k, CAST(count(*) AS BIGINT) AS b
        |  FROM orders GROUP BY 1),
        |keyed AS (
        |  SELECT coalesce(a.a, 0) AS a, coalesce(b.b, 0) AS b,
        |    coalesce(a.a, 0) * coalesce(b.b, 0) AS outn
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT CASE WHEN outn = 0 THEN 0
        |    ELSE length(CAST(outn AS VARCHAR)) END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(outn) AS BIGINT) AS out_rows,
        |  CAST(sum(a) AS BIGINT) AS left_rows,
        |  CAST(sum(b) AS BIGINT) AS right_rows
        |FROM keyed GROUP BY 1 ORDER BY bucket""".stripMargin,

    // QI class sizes → size-band masses
    "qz72_k_anonymity" ->
      """WITH cls AS (
        |  SELECT lang, source, n_chars // 1000 AS len_kb,
        |    CAST(count(*) AS BIGINT) AS sz
        |  FROM documents GROUP BY 1, 2, 3),
        |banded AS (
        |  SELECT sz,
        |    CASE WHEN sz = 1 THEN 1 WHEN sz <= 4 THEN 2
        |         WHEN sz <= 9 THEN 5 ELSE 10 END AS band_lo,
        |    CASE WHEN sz = 1 THEN 'unique' WHEN sz <= 4 THEN '2-4'
        |         WHEN sz <= 9 THEN '5-9' ELSE '10+' END AS band
        |  FROM cls)
        |SELECT band_lo, band, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(sz) AS BIGINT) AS n_rows
        |FROM banded GROUP BY band_lo, band
        |ORDER BY band_lo""".stripMargin,

    // exact histogram quantiles at rank ceil(q·n), then the priced clamp
    "qz73_winsorize" ->
      """WITH hist AS (
        |  SELECT CAST(floor(value * 1000) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
        |cum AS (
        |  SELECT v, c, n,
        |    CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    (n + 99) // 100 AS r01, (99 * n + 99) // 100 AS r99
        |  FROM hist CROSS JOIN tot),
        |qtl AS (
        |  SELECT min(CASE WHEN cum >= r01 THEN v END) AS p01,
        |    min(CASE WHEN cum >= r99 THEN v END) AS p99,
        |    CAST(min(n) AS BIGINT) AS n
        |  FROM cum)
        |SELECT n AS n_rows, p01 AS p01_milli, p99 AS p99_milli,
        |  CAST(coalesce(sum(CASE WHEN v < p01 THEN c END), 0)
        |    AS BIGINT) AS clipped_lo,
        |  CAST(coalesce(sum(CASE WHEN v > p99 THEN c END), 0)
        |    AS BIGINT) AS clipped_hi,
        |  CAST(sum(v * c) AS BIGINT) AS sum_milli,
        |  CAST(sum(greatest(p01, least(p99, v)) * c) AS BIGINT)
        |    AS winsor_sum_milli
        |FROM hist CROSS JOIN qtl
        |GROUP BY n, p01, p99""".stripMargin,

    "qz70_budget_waterfill" ->
      """WITH caps AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total,
        |  CAST(count(*) AS BIGINT) AS n_src FROM caps),
        |ranked AS (
        |  SELECT source, cap, total // 2 AS budget, n_src,
        |    CAST(row_number() OVER w AS BIGINT) AS k,
        |    CAST(sum(cap) OVER w AS BIGINT) AS prefix
        |  FROM caps CROSS JOIN tot
        |  WINDOW w AS (ORDER BY cap, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fit AS (
        |  SELECT coalesce(max(CASE WHEN prefix + (n_src - k) * cap
        |      <= budget THEN k END), 0) AS kstar,
        |    coalesce(max(CASE WHEN prefix + (n_src - k) * cap
        |      <= budget THEN prefix END), 0) AS prefix0
        |  FROM ranked)
        |SELECT source, cap,
        |  least(cap, (budget - prefix0) // (n_src - kstar)) AS alloc,
        |  cap <= (budget - prefix0) // (n_src - kstar) AS fully_kept
        |FROM ranked CROSS JOIN fit ORDER BY source""".stripMargin,

    // same midpoint cut, shares as one division each, ln rounded to 9
    "qz69_psi_drift" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
        |ct AS (
        |  SELECT event_type,
        |    CASE WHEN day < (d0 + d1 + 1) // 2 THEN 'pre' ELSE 'post'
        |      END AS seg, CAST(count(*) AS BIGINT) AS n
        |  FROM d CROSS JOIN b GROUP BY 1, 2),
        |tot AS (SELECT seg, CAST(sum(n) AS BIGINT) AS t FROM ct
        |  GROUP BY seg),
        |w AS (SELECT ct.event_type, ct.seg, ct.n, tot.t
        |  FROM ct JOIN tot USING (seg)),
        |pre AS (SELECT event_type, n AS n_pre, t AS t_pre FROM w
        |  WHERE seg = 'pre'),
        |post AS (SELECT event_type, n AS n_post, t AS t_post FROM w
        |  WHERE seg = 'post')
        |SELECT event_type, n_pre, n_post,
        |  round((CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE)
        |    - CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE)) *
        |    ln((CAST(n_pre AS DOUBLE) / CAST(t_pre AS DOUBLE)) /
        |    (CAST(n_post AS DOUBLE) / CAST(t_post AS DOUBLE))), 9)
        |    AS psi_term
        |FROM pre JOIN post USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // the same three candidate lengths unnested
    "qx94_truncation_plan" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (SELECT max_len, n FROM d
        |  CROSS JOIN (SELECT unnest([CAST(128 AS BIGINT),
        |    CAST(512 AS BIGINT), CAST(2048 AS BIGINT)]) AS max_len))
        |SELECT max_len, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n > max_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_over,
        |  CAST(sum(n) AS BIGINT) AS n_toks,
        |  CAST(sum(greatest(n - max_len, 0)) AS BIGINT) AS tokens_lost,
        |  (1000000 * CAST(sum(greatest(n - max_len, 0)) AS BIGINT))
        |    // CAST(sum(n) AS BIGINT) AS lost_ppm
        |FROM x GROUP BY max_len ORDER BY max_len""".stripMargin,

    // per-table deletion masses; lineitem cascades through orders
    "qz68_deletion_sweep" ->
      """SELECT * FROM (
        |  SELECT 'events' AS tbl,
        |    CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rows
        |  FROM events GROUP BY tbl
        |  UNION ALL
        |  SELECT 'orders' AS tbl,
        |    CAST(sum(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rows
        |  FROM orders GROUP BY tbl
        |  UNION ALL
        |  SELECT 'lineitem' AS tbl,
        |    CAST(sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_rows
        |  FROM lineitem l LEFT JOIN (
        |    SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0) o
        |    ON o.o_orderkey = l.l_orderkey
        |  GROUP BY tbl)
        |ORDER BY tbl""".stripMargin,

    // same cluster chain; the 60-bit md5 fold is the shared hash rule
    "qx93_cluster_safe_split" ->
      (ShingleCte + ClusterChainCte +
        """,
          |asg AS (
          |  SELECT doc_id, cluster,
          |    CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val'
          |      ELSE 'test' END AS split,
          |    (doc_id <> cluster) AS dup_member
          |  FROM (
          |    SELECT doc_id, cluster,
          |      list_reduce(list_transform(range(1, 16),
          |        j -> CAST(strpos('0123456789abcdef',
          |          substr(md5(CAST(cluster AS VARCHAR)),
          |            CAST(j AS INT), 1)) - 1 AS BIGINT)),
          |        (x, y) -> x * 16 + y) % 10 AS h
          |    FROM clus))
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
          |  CAST(sum(CASE WHEN dup_member THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_members
          |FROM asg GROUP BY split ORDER BY split""".stripMargin)
        .replace("WITH tok AS", "WITH RECURSIVE tok AS"),

    // cluster chain → keepers → the qx91 chunk fold, composed
    "qp9_chunked_curation" ->
      (ShingleCte + ClusterChainCte +
        """,
          |keepers AS (SELECT doc_id FROM clus WHERE doc_id = cluster),
          |kd AS (
          |  SELECT d.source,
          |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n
          |  FROM documents d JOIN keepers USING (doc_id)
          |  WHERE len(string_split(d.text, ' ')) >= 1),
          |ck AS (
          |  SELECT source, n, (n + 47) // 48 AS n_chunks,
          |    list_reduce(list_transform(range((n + 47) // 48),
          |      k -> least(CAST(64 AS BIGINT), n - k * 48)),
          |      (a, b) -> a + b) AS chunk_toks
          |  FROM kd)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
          |  CAST(sum(n) AS BIGINT) AS n_toks,
          |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
          |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_toks
          |FROM ck GROUP BY source ORDER BY source""".stripMargin)
        .replace("WITH tok AS", "WITH RECURSIVE tok AS"),

    // the shared qx11 cluster chain + per-source survivor accounting
    "qx92_dedup_survivorship" ->
      (ShingleCte + ClusterChainCte +
        s""",
          |j AS (
          |  SELECT d.source, d.n_chars, c.cluster, d.doc_id
          |  FROM documents d JOIN clus c USING (doc_id))
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_survivors,
          |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
          |  CAST(sum(CASE WHEN doc_id = cluster THEN 0 ELSE n_chars END)
          |    AS BIGINT) AS chars_removed,
          |  (1000000 * CAST(sum(CASE WHEN doc_id = cluster THEN 0
          |    ELSE n_chars END) AS BIGINT))
          |    // CAST(sum(n_chars) AS BIGINT) AS removed_ppm
          |FROM j GROUP BY source ORDER BY source""".stripMargin)
        .replace("WITH tok AS", "WITH RECURSIVE tok AS"),

    // sign-bit signatures as 2×32-bit BIGINTs, popcount-Hamming
    // shortlist (top-32 by hamming, n_id), exact-cosine re-rank
    "qe40_sign_ann" ->
      (SignAnnCte + """
        |SELECT q_id, n_id, rank, hamming, cos
        |FROM ann ORDER BY q_id, rank""".stripMargin),

    // exact top-5 LEFT JOIN the sign-index top-5; recall in exact ppm
    "qe41_sign_recall" ->
      (SignAnnCte + s""",
        |ex AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |ex5 AS (
        |  SELECT q_id, n_id FROM ex
        |  WINDOW we AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |  QUALIFY row_number() OVER we <= 5)
        |SELECT e.q_id,
        |  CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  (1000000 * CAST(sum(CASE WHEN a.n_id IS NOT NULL THEN 1
        |    ELSE 0 END) AS BIGINT)) // 5 AS recall_ppm
        |FROM ex5 e LEFT JOIN ann a
        |  ON e.q_id = a.q_id AND e.n_id = a.n_id
        |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin),

    // same 64/48 chunk enumeration as a list fold
    "qx91_token_chunking" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT source, n, (n + 47) // 48 AS n_chunks,
        |    list_reduce(list_transform(range((n + 47) // 48),
        |      k -> least(CAST(64 AS BIGINT), n - k * 48)),
        |      (a, b) -> a + b) AS chunk_toks
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_toks,
        |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_toks,
        |  (1000000 * (CAST(sum(chunk_toks) AS BIGINT)
        |    - CAST(sum(n) AS BIGINT))) // CAST(sum(n) AS BIGINT)
        |    AS overlap_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // first-active-week cohorts, (cohort, age) activity, exact ppm
    "qz67_retention_triangle" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7
        |      AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS c_wk FROM uw GROUP BY user_id),
        |a AS (
        |  SELECT c.c_wk, uw.wk - c.c_wk AS age,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT c_wk, CAST(count(*) AS BIGINT) AS n_cohort
        |  FROM c GROUP BY c_wk)
        |SELECT a.c_wk AS cohort_wk, a.age, a.n_active, sz.n_cohort,
        |  (1000000 * a.n_active) // sz.n_cohort AS ret_ppm
        |FROM a JOIN sz USING (c_wk) ORDER BY cohort_wk, age""".stripMargin,

    "qz66_active_days_hist" ->
      """WITH u AS (
        |  SELECT user_id, CAST(count(DISTINCT CAST(CAST(ts AS DATE)
        |    - DATE '1970-01-01' AS BIGINT)) AS BIGINT) AS k
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u)
        |SELECT k AS active_days, CAST(count(*) AS BIGINT) AS n,
        |  (1000000 * CAST(count(*) AS BIGINT)) // n_users AS share_ppm
        |FROM u CROSS JOIN t
        |GROUP BY k, n_users ORDER BY active_days""".stripMargin,

    // top-30 vocab via the same total order, left-join OOV marking
    "qx90_vocab_oov" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |v AS (
        |  SELECT t FROM (
        |    SELECT t, count(*) AS n FROM tok GROUP BY t
        |    ORDER BY n DESC, t LIMIT 30)),
        |m AS (
        |  SELECT tok.source,
        |    CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN v ON v.t = tok.t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  (1000000 * CAST(sum(oov) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS oov_ppm
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // midpoint cut, recentered closed-form OLS per segment
    "qz65_interrupted_ts" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY day),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |seg AS (
        |  SELECT CASE WHEN day < (d0 + d1 + 1) // 2 THEN 'pre'
        |    ELSE 'post' END AS segment, day - d0 AS x, y
        |  FROM daily CROSS JOIN b),
        |a AS (
        |  SELECT segment, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM seg GROUP BY segment)
        |SELECT segment, n_days,
        |  n_days * sxy - sx * sy AS slope_num,
        |  n_days * sxx - sx * sx AS slope_den,
        |  (1000 * sy) // n_days AS mean_milli,
        |  CASE WHEN n_days * sxx - sx * sx <> 0
        |    THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE)
        |    ELSE 0.0 END AS slope
        |FROM a ORDER BY segment""".stripMargin,

    // per-doc byte-domain histogram (≤ 256 buckets), type-1 percentiles
    "qm22_dynamic_range" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, length(fh) // 2),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)))
        |      AS v
        |  FROM g),
        |h AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
        |      FROM b GROUP BY doc_id, v),
        |cum AS (
        |  SELECT doc_id, v, c,
        |    sum(c) OVER (PARTITION BY doc_id ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY doc_id) AS total
        |  FROM h)
        |SELECT doc_id,
        |  min(CASE WHEN cum * 100 >= total * 5 THEN v END) AS p5,
        |  min(CASE WHEN cum * 100 >= total * 95 THEN v END) AS p95,
        |  min(CASE WHEN cum * 100 >= total * 95 THEN v END)
        |    - min(CASE WHEN cum * 100 >= total * 5 THEN v END)
        |    AS dyn_range
        |FROM cum GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // qm18's frame staging, rail filter, exact ppm
    "qm20_audio_clipping" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, CAST(length(fh) // 2 AS BIGINT) AS flen,
        |    list_transform(range(0, length(fh) // 2),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g)
        |SELECT doc_id, CAST(sum(flen) AS BIGINT) AS n_samples,
        |  CAST(sum(len(list_filter(bv, x -> x <= 2 OR x >= 253)))
        |    AS BIGINT) AS n_clipped,
        |  (1000000 * CAST(sum(len(list_filter(bv,
        |    x -> x <= 2 OR x >= 253))) AS BIGINT))
        |    // CAST(sum(flen) AS BIGINT) AS clip_ppm
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // first-digit counts from the BIGINT-cents decimal string, the
    // SAME nine ppm literals (generated from benfordPpm), one integer
    // deviation sum
    "qz42_benford" ->
      s"""WITH d AS (
        |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit
        |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |          AS cents FROM orders)
        |  WHERE cents > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
        |w AS (
        |  SELECT digit, n,
        |    CAST(([${benfordPpm.mkString(",")}])[CAST(digit AS INT)]
        |      AS BIGINT) AS benford_ppm, nt
        |  FROM c CROSS JOIN t),
        |w2 AS (
        |  SELECT digit, n, n * 1000000 // nt AS obs_ppm, benford_ppm,
        |    abs(n * 1000000 - benford_ppm * nt) AS dev, nt
        |  FROM w),
        |s AS (SELECT CAST(sum(dev) AS BIGINT) AS sdev,
        |        CAST(sum(benford_ppm) AS BIGINT) AS sppm FROM w2)
        |SELECT digit, n AS n_orders, obs_ppm, benford_ppm,
        |  (sdev + (1000000 - sppm) * nt) // (2 * nt) AS tvd_ppm
        |FROM w2 CROSS JOIN s ORDER BY digit""".stripMargin,

    // user-grain distinct type sets, t1<t2 pair rollup, broadcast
    // marginals, one lift division
    "qz43_event_type_lift" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |tc AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS ntyp
        |  FROM ut GROUP BY event_type),
        |nu AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM ut),
        |p AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t1, t2, n_both, c1.ntyp AS n1, c2.ntyp AS n2,
        |  CAST(n_both * nu AS DOUBLE) / CAST(c1.ntyp * c2.ntyp AS DOUBLE)
        |    AS lift
        |FROM p
        |JOIN tc c1 ON c1.event_type = t1
        |JOIN tc c2 ON c2.event_type = t2
        |CROSS JOIN nu
        |ORDER BY t1, t2""".stripMargin,

    // the same gap-session CTEs as qz30, then the sweep line as
    // day-partitioned running sums + a day-grain carry cumulative
    "qz47_peak_concurrency" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, CAST(min(us) AS BIGINT) AS s0,
        |    CAST(max(us) AS BIGINT) AS s1
        |  FROM s GROUP BY user_id, sid),
        |d0 AS (
        |  SELECT s0 AS t, 1 AS d FROM sess
        |  UNION ALL
        |  SELECT s1 + 1, -1 FROM sess),
        |pt AS (
        |  SELECT t, CAST(sum(d) AS BIGINT) AS dd,
        |    t // 86400000000 AS day
        |  FROM d0 GROUP BY t),
        |r AS (
        |  SELECT day, CAST(max(run) AS BIGINT) AS mx FROM (
        |    SELECT day, sum(dd) OVER (PARTITION BY day ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS run
        |    FROM pt) rr GROUP BY day),
        |c AS (
        |  SELECT day, n_points,
        |    COALESCE(CAST(sum(dtot) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS carry
        |  FROM (SELECT day, CAST(sum(dd) AS BIGINT) AS dtot,
        |          CAST(count(*) AS BIGINT) AS n_points
        |        FROM pt GROUP BY day) dts)
        |SELECT r.day, c.n_points,
        |  greatest(c.carry, c.carry + r.mx) AS day_peak
        |FROM r JOIN c USING (day)
        |ORDER BY day""".stripMargin,

    // qz39's pair staging + the ClusterChainCte recursive-CC shape,
    // rolled into a cluster-size histogram — ground truth for the
    // DISTRIBUTED min-label loop the Spark side is forced onto
    "qz48_cc_histogram" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM p UNION SELECT d2 FROM p) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = p.d1 THEN p.d2 ELSE p.d1 END, r.label
        |  FROM reach r JOIN p ON r.node = p.d1 OR r.node = p.d2),
        |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |sz AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
        |  FROM cc GROUP BY cluster)
        |SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY n_members
        |ORDER BY n_members""".stripMargin)
      .replace("WITH tok AS", "WITH RECURSIVE tok AS"),

    // qx99 — the identical concat-and-chunk arithmetic; DuckDB's
    // single global window is the ground truth for the two-level
    // distributed prefix sum
    "qx99_context_packing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |c AS (
        |  SELECT doc_id, n_toks,
        |    CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum0
        |  FROM tok),
        |e AS (
        |  SELECT doc_id, n_toks, cum0, cum0 // 2048 AS w0,
        |    (cum0 + n_toks - 1) // 2048 AS w1
        |  FROM c),
        |x AS (
        |  SELECT doc_id, n_toks, cum0, w0, w1,
        |    unnest(range(w0, w1 + 1)) AS window_id
        |  FROM e)
        |SELECT window_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN w0 = window_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_starts,
        |  CAST(sum(CASE WHEN w0 <> w1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_crossers,
        |  CAST(sum(least(cum0 + n_toks, (window_id + 1) * 2048) -
        |    greatest(cum0, window_id * 2048)) AS BIGINT) AS n_tokens
        |FROM x GROUP BY window_id ORDER BY window_id""".stripMargin,

    // qx100 — the shared trigram spelling at doc grain; distinct is
    // counted over the SAME md5-prefix key the native expression
    // computes (15 hex digits = the 60-bit key), so even a hash
    // collision collides in both engines
    "qx100_intra_dup" -> (ShingleCte +
      """
        |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_tri,
        |  CAST(len(list_distinct(list_transform(s,
        |    g -> substr(md5(g), 1, 15)))) AS BIGINT) AS n_distinct,
        |  CAST((1000000 * (len(s) - len(list_distinct(list_transform(s,
        |    g -> substr(md5(g), 1, 15)))))) // len(s)
        |    AS BIGINT) AS dup_ppm
        |FROM sh ORDER BY doc_id""".stripMargin),

    // qx98 — the same staging and recursive closure as qz48, emitted
    // at LABEL grain: node → min reachable doc_id
    "qx98_cc_labels" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM p UNION SELECT d2 FROM p) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = p.d1 THEN p.d2 ELSE p.d1 END, r.label
        |  FROM reach r JOIN p ON r.node = p.d1 OR r.node = p.d2)
        |SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS cluster
        |FROM reach GROUP BY node
        |ORDER BY doc_id""".stripMargin)
      .replace("WITH tok AS", "WITH RECURSIVE tok AS"),

    // rarest-first prefix index + exact-jaccard refine; no length
    // filter here — it provably prunes only sub-τ pairs, so the
    // refined result is identical with or without it
    // set-grain ground truth: distinct-token-set reps, exact list
    // intersections over all length-compatible rep pairs (the twin
    // favors clarity — set count is duplication-free by construction,
    // so the O(sets²) form is priceable), within-set identity rows
    "qx81_prefix_join" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |fps AS (
        |  SELECT doc_id, list_sort(list_distinct(toks)) AS td,
        |    md5(array_to_string(list_sort(list_distinct(toks)), ' '))
        |      AS f
        |  FROM tok),
        |sets AS (
        |  SELECT f, CAST(min(doc_id) AS BIGINT) AS rep,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM fps GROUP BY f),
        |rt AS (
        |  SELECT s.f, s.rep, s.m, p.td,
        |    CAST(len(p.td) AS BIGINT) AS n
        |  FROM sets s JOIN fps p ON p.doc_id = s.rep),
        |pairs AS (
        |  SELECT a.rep AS r1, b.rep AS r2, a.m AS m1, b.m AS m2,
        |    CAST(len(list_intersect(a.td, b.td)) AS BIGINT) AS n_int,
        |    a.n AS n1, b.n AS n2
        |  FROM rt a JOIN rt b ON a.rep < b.rep
        |  WHERE 1000 * least(a.n, b.n) >= 950 * greatest(a.n, b.n)),
        |cross_q AS (
        |  SELECT r1 AS d1, r2 AS d2, m1 * m2 AS n_pairs, n_int,
        |    (1000 * n_int) // (n1 + n2 - n_int) AS jac_milli
        |  FROM pairs
        |  WHERE 1000 * n_int >= 950 * (n1 + n2 - n_int)),
        |within_q AS (
        |  SELECT rep AS d1, rep AS d2, (m * (m - 1)) // 2 AS n_pairs,
        |    n AS n_int, CAST(1000 AS BIGINT) AS jac_milli
        |  FROM rt WHERE m >= 2)
        |SELECT * FROM cross_q UNION ALL SELECT * FROM within_q
        |ORDER BY d1, d2""".stripMargin,

    // the sorted-sweep skyline: per-source cummax over the strictly-
    // larger-x RANGE frame + the x tie-block max, same two windows
    "qz49_pareto_docs" ->
      """WITH tok AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
        |  FROM tok WHERE len(toks) >= 3),
        |w AS (
        |  SELECT *,
        |    max(n_types) OVER (PARTITION BY source ORDER BY n_toks DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_gx,
        |    max(n_types) OVER (PARTITION BY source, n_toks) AS best_eq
        |  FROM m)
        |SELECT source, doc_id, n_toks, n_types FROM w
        |WHERE coalesce(best_gx < n_types, TRUE) AND n_types = best_eq
        |ORDER BY source, n_toks, doc_id""".stripMargin,

    // qm10's frame/channel staging; Pearson pieces as exact BIGINT
    // cross-multiplications, one double division by the sqrt product
    "qm16_channel_corr" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CASE WHEN length(fh) >= (CAST(j AS INT) + 1) * 2
        |        THEN CAST((strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM g),
        |y AS (
        |  SELECT doc_id, 'c0c1' AS pair,
        |    b[5] AS x1, b[8] AS x2, b[11] AS x3, b[14] AS x4,
        |    b[6] AS y1, b[9] AS y2, b[12] AS y3, b[15] AS y4 FROM h
        |  UNION ALL
        |  SELECT doc_id, 'c0c2',
        |    b[5], b[8], b[11], b[14], b[7], b[10], b[13], b[16] FROM h
        |  UNION ALL
        |  SELECT doc_id, 'c1c2',
        |    b[6], b[9], b[12], b[15], b[7], b[10], b[13], b[16] FROM h),
        |z AS (
        |  SELECT doc_id, pair,
        |    CAST(4 * count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(x1+x2+x3+x4) AS BIGINT) AS sx,
        |    CAST(sum(y1+y2+y3+y4) AS BIGINT) AS sy,
        |    CAST(sum(x1*y1 + x2*y2 + x3*y3 + x4*y4) AS BIGINT) AS sxy,
        |    CAST(sum(x1*x1 + x2*x2 + x3*x3 + x4*x4) AS BIGINT) AS sxx,
        |    CAST(sum(y1*y1 + y2*y2 + y3*y3 + y4*y4) AS BIGINT) AS syy
        |  FROM y GROUP BY doc_id, pair)
        |SELECT doc_id, pair, n_samples,
        |  n_samples * sxy - sx * sy AS num,
        |  CASE WHEN n_samples * sxx - sx * sx > 0
        |        AND n_samples * syy - sy * sy > 0
        |    THEN CAST(n_samples * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n_samples * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n_samples * syy - sy * sy AS DOUBLE)))
        |    ELSE 0.0E0 END AS corr
        |FROM z ORDER BY doc_id, pair""".stripMargin,

    // qm16's staging restricted to FULL frames, per-frame sums as
    // list_reduce folds, the identical n^4-cleared num/den text
    "qm17_frame_ssim" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT))
        |      AS b
        |  FROM g WHERE length(fh) = 32),
        |st AS (
        |  SELECT doc_id, frame_no, b,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), b),
        |      (a, x) -> a + x) AS sx,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), b),
        |      (a, x) -> a + x * x) AS sxx
        |  FROM h),
        |p AS (
        |  SELECT a.doc_id, a.frame_no, a.sx, b.sx AS sy,
        |    a.sxx, b.sxx AS syy,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_zip(a.b, b.b), q -> q[1] * q[2])),
        |      (x, y) -> x + y) AS sxy
        |  FROM st a JOIN st b
        |    ON b.doc_id = a.doc_id AND b.frame_no = a.frame_no + 1)
        |SELECT doc_id, frame_no,
        |  (2 * sx * sy + 1792) *
        |    (2 * (16 * sxy - sx * sy) + 15104) AS num,
        |  (sx * sx + sy * sy + 1792) *
        |    ((16 * sxx - sx * sx) + (16 * syy - sy * sy) + 15104)
        |    AS den,
        |  CAST((2 * sx * sy + 1792) *
        |    (2 * (16 * sxy - sx * sy) + 15104) AS DOUBLE) /
        |  CAST((sx * sx + sy * sy + 1792) *
        |    ((16 * sxx - sx * sx) + (16 * syy - sy * sy) + 15104)
        |    AS DOUBLE) AS ssim
        |FROM p ORDER BY doc_id, frame_no""".stripMargin,

    // variable-length frames (no zero padding — a padded zero is a
    // "non-negative sample" and would corrupt the sign fold), the
    // generated zcr fold, asset rollup with the per-frame n-1
    // transition denominator
    "qm18_zero_crossings" -> {
      val fold = zcrFoldSql("a", "x", "//")
      s"""WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    CAST(length(fh) // 2 AS BIGINT) AS flen,
        |    list_transform(range(0, length(fh) // 2),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |st AS (
        |  SELECT doc_id, flen,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), bv),
        |      (a, x) -> $fold) AS st
        |  FROM h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(flen) AS BIGINT) AS n_samples,
        |  CAST(sum(st // 4) AS BIGINT) AS n_crossings,
        |  (1000 * CAST(sum(st // 4) AS BIGINT))
        |    // (CAST(sum(flen) AS BIGINT) - count(*)) AS zcr_milli
        |FROM st GROUP BY doc_id
        |HAVING CAST(sum(flen) AS BIGINT) > count(*)
        |ORDER BY doc_id""".stripMargin
    },

    // positional tokens, stopword-run phrase ids via the same
    // doc-partitioned cumulative, degree/frequency word ratios in
    // floored milli, phrase-grain rollup, total-ordered top 20
    "qx82_rake_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |p0 AS (
        |  SELECT doc_id, toks,
        |    CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS pos
        |  FROM tok),
        |tk AS (
        |  SELECT doc_id, pos, toks[CAST(pos AS INT)] AS t FROM p0),
        |mk AS (
        |  SELECT doc_id, pos, t,
        |    CAST(sum(CASE WHEN t IN ('the','and','of','to','a')
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pid
        |  FROM tk),
        |runs AS (
        |  SELECT * FROM mk
        |  WHERE t NOT IN ('the','and','of','to','a')),
        |ph AS (
        |  SELECT doc_id, pid, string_agg(t, ' ' ORDER BY pos) AS phrase,
        |    CAST(count(*) AS BIGINT) AS plen
        |  FROM runs GROUP BY doc_id, pid
        |  HAVING count(*) <= 4),
        |words AS (
        |  SELECT doc_id, pid, phrase, plen,
        |    unnest(string_split(phrase, ' ')) AS t
        |  FROM ph),
        |ws AS (
        |  SELECT t, (1000 * CAST(sum(plen) AS BIGINT))
        |    // CAST(count(*) AS BIGINT) AS rat
        |  FROM words GROUP BY t),
        |sc AS (
        |  SELECT doc_id, pid, phrase, plen,
        |    CAST(sum(rat) AS BIGINT) AS sc
        |  FROM words JOIN ws USING (t)
        |  GROUP BY doc_id, pid, phrase, plen)
        |SELECT phrase, min(plen) AS n_words,
        |  CAST(count(*) AS BIGINT) AS n_occurrences,
        |  min(sc) AS score_milli
        |FROM sc GROUP BY phrase
        |ORDER BY score_milli DESC, phrase LIMIT 20""".stripMargin,

    // qz48's capped band staging proposes, a 100-char-bounded
    // levenshtein disposes
    "qx83_editdist_verify" -> {
      val led = "(CASE WHEN CAST(levenshtein(substr(t1.text, 1, 100), " +
        "substr(t2.text, 1, 100)) AS BIGINT) <= 20 " +
        "THEN CAST(levenshtein(substr(t1.text, 1, 100), " +
        "substr(t2.text, 1, 100)) AS BIGINT) ELSE -1 END)"
      val mx = "greatest(CAST(length(substr(t1.text, 1, 100)) " +
        "AS BIGINT), CAST(length(substr(t2.text, 1, 100)) AS BIGINT))"
      ShingleCte + s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id)
        |SELECT p.d1, p.d2, $led AS edit_dist,
        |  CASE WHEN $led >= 0
        |    THEN 1000 - (1000 * $led) // $mx ELSE -1 END AS sim_milli,
        |  (CASE WHEN $led >= 0
        |    THEN 1000 - (1000 * $led) // $mx ELSE -1 END) >= 800
        |    AS near_dup
        |FROM p JOIN documents t1 ON t1.doc_id = p.d1
        |       JOIN documents t2 ON t2.doc_id = p.d2
        |ORDER BY d1, d2""".stripMargin
    },

    // the two fenced-anchor legs as QUALIFY top-1s, per-row floored
    // micro margins, the OFFSET-trick mean
    "qe32_triplet_margins" ->
      (s"""WITH pos AS (
        |  SELECT a.vec_id AS a_id, a.label,
        |    ${cosSql("a.embedding", "c.embedding")} AS cos
        |  FROM embeddings a JOIN embeddings c
        |    ON a.vec_id < 100 AND c.vec_id <> a.vec_id
        |      AND c.label = a.label
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY cos DESC, c.vec_id) = 1),
        |neg AS (
        |  SELECT a.vec_id AS a_id,
        |    ${cosSql("a.embedding", "c.embedding")} AS cos
        |  FROM embeddings a JOIN embeddings c
        |    ON a.vec_id < 100 AND c.vec_id <> a.vec_id
        |      AND c.label <> a.label
        |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY cos DESC, c.vec_id) = 1),
        |m AS (
        |  SELECT label,
        |    CAST(floor((pos.cos - neg.cos) * 1000000.0) AS BIGINT) AS mm
        |  FROM pos JOIN neg USING (a_id)),
        |g AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_anchors,
        |    CAST(sum(mm) AS BIGINT) AS sum_margin_micro,
        |    CAST(sum(CASE WHEN mm < 200000 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_violations
        |  FROM m GROUP BY label)
        |SELECT label, n_anchors, sum_margin_micro,
        |  (sum_margin_micro + n_anchors * 1000000000000)
        |    // n_anchors - 1000000000000 AS mean_margin_micro,
        |  n_violations
        |FROM g ORDER BY label""".stripMargin),

    // the same unrolled greedy: candidate shortlist + pair cosines,
    // then per step a max-over-selected join, an anti-join on the
    // already-picked set, and a QUALIFY argmax — identical float text
    "qe31_mmr_rerank" -> {
      val steps = (2 to 4).map { k =>
        val prev = s"u${k - 1}"
        s""",
          |m$k AS (
          |  SELECT p.q_id, p.a, max(p.cab) AS mx
          |  FROM pc p JOIN $prev s ON s.q_id = p.q_id AND s.n_id = p.b
          |  GROUP BY p.q_id, p.a),
          |s$k AS (
          |  SELECT c.q_id, CAST($k AS BIGINT) AS step, c.n_id,
          |    c.cos AS cos_q, 0.7 * c.cos - 0.3 * m.mx AS mmr
          |  FROM cand c JOIN m$k m ON m.q_id = c.q_id AND m.a = c.n_id
          |  LEFT JOIN $prev z ON z.q_id = c.q_id AND z.n_id = c.n_id
          |  WHERE z.n_id IS NULL
          |  QUALIFY row_number() OVER (PARTITION BY c.q_id
          |    ORDER BY 0.7 * c.cos - 0.3 * m.mx DESC, c.n_id) = 1),
          |u$k AS (SELECT * FROM $prev UNION ALL SELECT * FROM s$k)"""
          .stripMargin
      }.mkString
      s"""WITH c0 AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    c.embedding AS n_emb,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 4 AND c.vec_id <> q.vec_id),
        |cand AS (
        |  SELECT * FROM c0
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) <= 8),
        |pc AS (
        |  SELECT x.q_id, x.n_id AS a, y.n_id AS b,
        |    ${cosSql("x.n_emb", "y.n_emb")} AS cab
        |  FROM cand x JOIN cand y
        |    ON y.q_id = x.q_id AND y.n_id <> x.n_id),
        |s1 AS (
        |  SELECT q_id, CAST(1 AS BIGINT) AS step, n_id, cos AS cos_q,
        |    cos AS mmr
        |  FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) = 1),
        |u1 AS (SELECT * FROM s1)$steps
        |SELECT q_id, step, n_id, cos_q, mmr
        |FROM u4 ORDER BY q_id, step""".stripMargin
    },

    // run detection + run-grain lead, the same two window passes
    "qz50_scd2_intervals" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    epoch_us(ts) AS us,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR event_type <> lag(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT user_id, event_type, us,
        |    CAST(sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS ver
        |  FROM m),
        |v AS (
        |  SELECT user_id, ver, min(event_type) AS event_type,
        |    CAST(min(us) AS BIGINT) AS vf_us
        |  FROM r GROUP BY user_id, ver)
        |SELECT user_id, ver, event_type, vf_us,
        |  lead(vf_us) OVER (PARTITION BY user_id ORDER BY ver) - 1
        |    AS vt_us,
        |  lead(vf_us) OVER (PARTITION BY user_id ORDER BY ver) IS NULL
        |    AS is_current
        |FROM v ORDER BY user_id, ver""".stripMargin,

    // pairwise day-grain slopes with the positive-operand OFFSET trick
    // (DuckDB // floors, Spark div truncates; shifted operands agree),
    // lower medians via sorted-list indexing
    "qz51_theil_sen" ->
      """WITH d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS x
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day FROM events)
        |  GROUP BY day),
        |p AS (
        |  SELECT (1000 * (b.x - a.x)
        |      + 1000000000000000 * (b.day - a.day))
        |      // (b.day - a.day) - 1000000000000000 AS sl
        |  FROM d a JOIN d b ON b.day > a.day),
        |m AS (
        |  SELECT l[CAST((len(l) + 1) // 2 AS INT)] AS slope_milli,
        |    CAST(len(l) AS BIGINT) AS n_pairs
        |  FROM (SELECT list(sl ORDER BY sl) AS l FROM p)),
        |ic AS (
        |  SELECT slope_milli, n_pairs,
        |    list(1000 * x - slope_milli * day
        |      ORDER BY 1000 * x - slope_milli * day) AS li,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM d CROSS JOIN m GROUP BY slope_milli, n_pairs)
        |SELECT n_days, n_pairs, slope_milli,
        |  li[CAST((len(li) + 1) // 2 AS INT)] AS intercept_milli
        |FROM ic ORDER BY n_days""".stripMargin,

    // calendar spine off the day bounds, IGNORE NULLS forward fill
    "qz56_forward_fill" ->
      """WITH daily AS (
        |  SELECT day, CAST(sum(vm) AS BIGINT) AS v_milli
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day,
        |        CAST(floor(value * 1000) AS BIGINT) AS vm
        |        FROM events WHERE event_type = 'purchase')
        |  GROUP BY day),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |  FROM b)
        |SELECT day, v_milli,
        |  last_value(v_milli IGNORE NULLS) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS filled_milli,
        |  v_milli IS NULL AS is_gap
        |FROM spine LEFT JOIN daily USING (day)
        |ORDER BY day""".stripMargin,

    // (user, day) distinct, user-partitioned lag classification,
    // day rollup + the cumulative-of-new identity
    "qz57_growth_accounting" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |c AS (
        |  SELECT day, CASE WHEN prev IS NULL THEN 'new'
        |      WHEN day - prev <= 7 THEN 'retained'
        |      ELSE 'resurrected' END AS cls
        |  FROM (SELECT user_id, day,
        |          lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |            AS prev
        |        FROM ud)),
        |d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM c GROUP BY day)
        |SELECT day, n_active, n_new, n_retained, n_resurrected,
        |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin,

    // qe35's twin moved to the fit-dependent map (qe35Sql): the indexed
    // leg's probed-cell candidate set depends on the fitted centroids

    // user-grain cohort day, (cohort, age) rollup, cohort-partitioned
    // cumulative
    "qz58_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    event_type, CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS c_day FROM ev
        |      GROUP BY user_id),
        |a AS (
        |  SELECT c_day, day - c_day AS age,
        |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers,
        |    CAST(sum(vm) AS BIGINT) AS v_milli
        |  FROM ev JOIN c ON c.user_id = ev.user_id
        |  WHERE event_type = 'purchase'
        |  GROUP BY c_day, day - c_day)
        |SELECT c_day, age, n_buyers, v_milli,
        |  CAST(sum(v_milli) OVER (PARTITION BY c_day ORDER BY age
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_v_milli
        |FROM a ORDER BY c_day, age""".stripMargin,

    // the same deterministic target pick and ±2 position join
    "qx84_kwic_collocates" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tk AS (
        |  SELECT doc_id, CAST(unnest(range(1, len(toks) + 1))
        |    AS BIGINT) AS pos, toks
        |  FROM tok),
        |tp AS (SELECT doc_id, pos, toks[CAST(pos AS INT)] AS t FROM tk),
        |tgt AS (
        |  SELECT t AS target FROM (
        |    SELECT t, CAST(count(*) AS BIGINT) AS n FROM tp
        |    WHERE t NOT IN ('the','and','of','to','a') GROUP BY t)
        |  QUALIFY row_number() OVER (ORDER BY n DESC, t) = 1),
        |occ AS (
        |  SELECT tp.doc_id, tp.pos AS tpos FROM tp CROSS JOIN tgt
        |  WHERE tp.t = tgt.target),
        |near AS (
        |  SELECT CASE WHEN tp.pos < occ.tpos THEN 'L' ELSE 'R' END
        |    AS side, tp.t
        |  FROM tp JOIN occ ON occ.doc_id = tp.doc_id
        |  WHERE tp.pos <> occ.tpos AND abs(tp.pos - occ.tpos) <= 2)
        |SELECT target, side, t AS collocate,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM near CROSS JOIN tgt
        |GROUP BY target, side, t
        |ORDER BY n DESC, side, t LIMIT 15""".stripMargin,

    // fill -> trend -> residual -> MAD gate, all mirrored; anomaly as
    // the 2|r| > 5 MAD integer cross-multiplication
    "qp8_timeseries_pipeline" ->
      """WITH daily AS (
        |  SELECT day, CAST(sum(vm) AS BIGINT) AS v_milli
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day,
        |        CAST(floor(value * 1000) AS BIGINT) AS vm
        |        FROM events WHERE event_type = 'purchase')
        |  GROUP BY day),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |spine AS (
        |  SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
        |  FROM b),
        |f AS (
        |  SELECT day,
        |    last_value(v_milli IGNORE NULLS) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS filled_milli
        |  FROM spine LEFT JOIN daily USING (day)),
        |t AS (
        |  SELECT day, filled_milli,
        |    CASE WHEN count(*) OVER w = 7
        |      THEN (1000 * sum(filled_milli) OVER w) // 7000 END
        |      AS trend_milli
        |  FROM f
        |  WINDOW w AS (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT day, filled_milli, trend_milli,
        |    filled_milli - trend_milli AS resid_milli
        |  FROM t),
        |m AS (
        |  SELECT l[CAST((len(l) + 1) // 2 AS INT)] AS mad FROM (
        |    SELECT list(abs(resid_milli) ORDER BY abs(resid_milli))
        |      AS l
        |    FROM t2 WHERE resid_milli IS NOT NULL))
        |SELECT day, filled_milli, trend_milli, resid_milli,
        |  CASE WHEN resid_milli IS NOT NULL
        |    THEN 2 * abs(resid_milli) > 5 * mad
        |    ELSE false END AS is_anomaly
        |FROM t2 CROSS JOIN m ORDER BY day""".stripMargin,

    // the qm18 variable-length staging, md5 frame fingerprints, the
    // qz50 run-detection discipline inside the doc partition
    "qm19_freeze_runs" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, length(fh) // 2),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |m AS (
        |  SELECT doc_id, frame_no,
        |    md5(array_to_string(bv, ',')) AS fp
        |  FROM h),
        |r AS (
        |  SELECT doc_id, frame_no,
        |    CASE WHEN lag(fp) OVER w IS NULL OR fp <> lag(fp) OVER w
        |      THEN 1 ELSE 0 END AS chg
        |  FROM m
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
        |r2 AS (
        |  SELECT doc_id,
        |    CAST(sum(chg) OVER (PARTITION BY doc_id ORDER BY frame_no
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM r),
        |g2 AS (
        |  SELECT doc_id, run, CAST(count(*) AS BIGINT) AS rl
        |  FROM r2 GROUP BY doc_id, run)
        |SELECT doc_id, CAST(sum(rl) AS BIGINT) AS n_frames,
        |  CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(rl) AS BIGINT) AS max_freeze_run,
        |  max(rl) >= 3 AS frozen
        |FROM g2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // RANGE-framed 7-day centered trend (incomplete windows NULL),
    // dow seasonal means over the detrended series with the OFFSET
    // trick, additive remainder
    "qz52_stl_decompose" ->
      """WITH d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS x
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day FROM events)
        |  GROUP BY day),
        |t AS (
        |  SELECT day, x, day % 7 AS dow,
        |    CASE WHEN count(*) OVER w = 7
        |      THEN (1000 * sum(x) OVER w) // 7 END AS trend_milli
        |  FROM d
        |  WINDOW w AS (ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT day, x, dow, trend_milli,
        |    1000 * x - trend_milli AS detr
        |  FROM t),
        |s AS (
        |  SELECT dow,
        |    CAST((sum(detr) + count(*) * 1000000000000000)
        |      // count(*) - 1000000000000000 AS BIGINT) AS seas_milli
        |  FROM t2 WHERE detr IS NOT NULL GROUP BY dow)
        |SELECT day, x AS n_events, trend_milli, seas_milli,
        |  detr - seas_milli AS resid_milli
        |FROM t2 LEFT JOIN s USING (dow)
        |ORDER BY day""".stripMargin,

    // user-grain lifetimes, 1-day right-censoring against the corpus
    // horizon, day-grain risk-set cumulative, per-day floored hazard
    // terms summed (the Nelson-Aalen sum stays exact where the
    // Kaplan-Meier product wouldn't)
    "qz53_nelson_aalen" ->
      """WITH life AS (
        |  SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS fu,
        |    CAST(max(epoch_us(ts)) AS BIGINT) AS lu
        |  FROM events GROUP BY user_id),
        |hz AS (SELECT max(lu) AS hz FROM life),
        |byt AS (
        |  SELECT (lu - fu) // 86400000000 AS t_days,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CASE WHEN hz - lu >= 86400000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM life CROSS JOIN hz GROUP BY 1),
        |nt AS (SELECT CAST(sum(m) AS BIGINT) AS nt FROM byt),
        |r AS (
        |  SELECT t_days, m, d,
        |    nt - COALESCE(CAST(sum(m) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS n_at_risk
        |  FROM byt CROSS JOIN nt),
        |h AS (
        |  SELECT t_days, n_at_risk, d AS n_events,
        |    m - d AS n_censored_same_day,
        |    (1000000 * d) // n_at_risk AS hazard_micro
        |  FROM r WHERE d > 0)
        |SELECT t_days, n_at_risk, n_events, n_censored_same_day,
        |  hazard_micro,
        |  CAST(sum(hazard_micro) OVER (ORDER BY t_days
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumhaz_micro
        |FROM h ORDER BY t_days""".stripMargin,

    // distinct-value-grain doubled ranks (the qz45 idiom) at day
    // grain, per-group floored-micro R²/n via the overflow-free split,
    // the shared kwHExpr/kwCExpr double formulas
    "qz54_kruskal_wallis" ->
      s"""WITH d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS x, day % 7 AS dow
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day FROM events)
        |  GROUP BY day),
        |vb AS (
        |  SELECT x, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x),
        |dr AS (
        |  SELECT x, 2 * COALESCE(CAST(sum(c) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) + c + 1 AS dr
        |  FROM vb),
        |g AS (
        |  SELECT dow, CAST(count(*) AS BIGINT) AS ni,
        |    CAST(sum(dr) AS BIGINT) AS r2
        |  FROM d JOIN dr USING (x) GROUP BY dow),
        |t AS (
        |  SELECT ni, ((r2 * r2) // ni) * 1000000
        |    + (((r2 * r2) % ni) * 1000000) // ni AS tm
        |  FROM g),
        |a AS (
        |  SELECT CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(tm) AS BIGINT) AS sd
        |  FROM t),
        |ti AS (SELECT CAST(sum(c*c*c - c) AS BIGINT) AS ties FROM vb)
        |SELECT n AS n_days, k AS n_groups, sd AS sum_d_micro,
        |  ties AS ties_cube,
        |  $kwHExpr AS h,
        |  CASE WHEN n > 1 AND ($kwCExpr) > 0.0
        |    THEN ($kwHExpr) / ($kwCExpr) ELSE 0.0 END AS h_corrected
        |FROM a CROSS JOIN ti WHERE n > 0 ORDER BY n_days""".stripMargin,

    // the same md5-ppm coins cut against the shared Poisson(1) CDF
    // literals; replicate means in floored milli, order-statistic band
    "qz55_poisson_bootstrap" -> {
      val h60 = "list_reduce(list_transform(range(1, 16), " +
        "j -> CAST(strpos('0123456789abcdef', " +
        "substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
        "CAST(b AS VARCHAR)), CAST(j AS INT), 1)) - 1 AS BIGINT)), " +
        "(x, y) -> x * 16 + y)"
      val w = poissonPpm.map(t => s"CAST(u >= $t AS BIGINT)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars,
        |    CAST(unnest(range(0, 64)) AS BIGINT) AS b
        |  FROM d),
        |u AS (
        |  SELECT b, n_chars, $h60 % 1000000 AS u
        |  FROM r),
        |w AS (SELECT b, n_chars, $w AS w FROM u),
        |m AS (
        |  SELECT b, (1000 * CAST(sum(w * n_chars) AS BIGINT))
        |    // CAST(sum(w) AS BIGINT) AS mb
        |  FROM w GROUP BY b HAVING CAST(sum(w) AS BIGINT) > 0),
        |l AS (SELECT list(mb ORDER BY mb) AS l FROM m),
        |pt AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    (1000 * CAST(sum(n_chars) AS BIGINT)) // count(*)
        |      AS mean_milli
        |  FROM d)
        |SELECT n_docs, mean_milli,
        |  CAST(len(l) AS BIGINT) AS n_replicates,
        |  l[2] AS boot_lo_milli, l[63] AS boot_hi_milli
        |FROM pt CROSS JOIN l WHERE n_docs > 0
        |ORDER BY n_docs""".stripMargin
    },

    // five single-column legs UNION ALLed — min/max on the NATIVE type
    // (ts through epoch micros, value through floor-milli), then cast
    "qz46_table_profile" -> {
      def leg(name: String, e: String) =
        s"""SELECT '$name' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($e) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
           |  CAST(min($e) AS VARCHAR) AS min_v,
           |  CAST(max($e) AS VARCHAR) AS max_v
           |FROM events""".stripMargin
      Seq(leg("event_id", "event_id"),
        leg("event_type", "event_type"),
        leg("ts", "epoch_us(ts)"),
        leg("user_id", "user_id"),
        leg("value", "CAST(floor(value * 1000) AS BIGINT)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // qm5's staging + the generated packed-histogram fold; the per-bin
    // chi² terms replay the same div-truncation order as the Spark
    // expression
    "qm15_frame_chi2" -> {
      val fold = histFoldSql("a", "x", "//", (b, n) => s"($b << $n)")
      def bin(c: String, b: Int) = s"(($c // ${1L << (5 * b)}) % 32)"
      val chi2 = (0 until 4).map { b =>
        val a = bin("a.h", b); val c = bin("b.h", b)
        s"CASE WHEN $a + $c > 0 THEN (1000 * ($a - $c) * ($a - $c)) " +
          s"// ($a + $c) ELSE 0 END"
      }.mkString(" + ")
      s"""WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      b -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |st AS (
        |  SELECT doc_id, frame_no,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), bv),
        |      (a, x) -> $fold) AS h
        |  FROM h)
        |SELECT a.doc_id, a.frame_no,
        |  CAST($chi2 AS BIGINT) AS chi2_milli,
        |  CAST($chi2 AS BIGINT) >= 1500 AS scene_change
        |FROM st a JOIN st b
        |  ON b.doc_id = a.doc_id AND b.frame_no = a.frame_no + 1
        |ORDER BY a.doc_id, a.frame_no""".stripMargin
    },

    // distinct-value-grain doubled ranks, exact tie correction, one
    // sqrt at the end — identical formula text on both sides
    "qz45_mann_whitney" ->
      """WITH ev AS (
        |  SELECT event_type = 'purchase' AS is1,
        |    CAST(floor(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |b AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM ev GROUP BY v),
        |r AS (
        |  SELECT c, c1,
        |    COALESCE(CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS cb
        |  FROM b),
        |a AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c - c1) AS BIGINT) AS n2,
        |    CAST(sum(c1 * (2*cb + c + 1)) AS BIGINT) AS sr1x2,
        |    CAST(sum(c*c*c - c) AS BIGINT) AS ties
        |  FROM r)
        |SELECT n1, n2, sr1x2 - n1*(n1+1) AS u_x2,
        |  CASE WHEN CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |    / 12.0 * (CAST(n1+n2+1 AS DOUBLE) -
        |    CAST(ties AS DOUBLE) /
        |    CAST((n1+n2)*((n1+n2)-1) AS DOUBLE)) <= 0.0 THEN 0.0
        |  ELSE CAST(sr1x2 - n1*(n1+1) - n1*n2 AS DOUBLE) /
        |  (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |    / 12.0 * (CAST(n1+n2+1 AS DOUBLE) -
        |    CAST(ties AS DOUBLE) /
        |    CAST((n1+n2)*((n1+n2)-1) AS DOUBLE)))) END AS z
        |FROM a WHERE n1 > 0 AND n2 > 0""".stripMargin,

    // the qe3 cosine leg at 0.30 + gram intersection ONLY on candidate
    // pairs; jaccard in integer milli, filter in a wrapper (DuckDB
    // WHERE can't see the alias)
    "qx80_paraphrase_mining" -> (ShingleCte + s""",
        |gset AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
        |          FROM gset GROUP BY doc_id),
        |cand AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    ${CosSql.format("a.embedding", "b.embedding")} /
        |    (sqrt(${CosSql.format("a.embedding", "a.embedding")}) *
        |     sqrt(${CosSql.format("b.embedding", "b.embedding")}))
        |      AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |    AND ${CosSql.format("a.embedding", "b.embedding")} /
        |    (sqrt(${CosSql.format("a.embedding", "a.embedding")}) *
        |     sqrt(${CosSql.format("b.embedding", "b.embedding")}))
        |      >= 0.30),
        |ints AS (
        |  SELECT c.i, c.j, CAST(count(*) AS BIGINT) AS n_int
        |  FROM cand c JOIN gset ga ON ga.doc_id = c.i
        |    JOIN gset gb ON gb.doc_id = c.j AND gb.g = ga.g
        |  GROUP BY c.i, c.j),
        |scored AS (
        |  SELECT c.i, c.j, c.cos,
        |    CAST(COALESCE(n_int, 0) AS BIGINT) AS n_int,
        |    CAST(COALESCE(n_int, 0) * 1000 //
        |      (sa.ng + sb.ng - COALESCE(n_int, 0)) AS BIGINT)
        |      AS jac_milli
        |  FROM cand c
        |  LEFT JOIN ints USING (i, j)
        |  JOIN sizes sa ON sa.doc_id = c.i
        |  JOIN sizes sb ON sb.doc_id = c.j)
        |SELECT i, j, cos, n_int, jac_milli FROM scored
        |WHERE jac_milli < 200 ORDER BY i, j""".stripMargin),

    // qm5's frame staging + the SAME generated packed-state fold
    // (list_reduce needs acc type = element type, hence the BIGINT
    // packing)
    "qm14_silence_runs" ->
      s"""WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    CAST(length(fh) // 2 AS BIGINT) AS frame_len,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      b -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |st AS (
        |  SELECT doc_id, frame_no, frame_len,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), bv),
        |      (a, x) -> ${silenceFoldSql("a", "x", "//")}) AS st
        |  FROM h)
        |SELECT doc_id, frame_no, frame_len,
        |  CAST((st // 16384) % 32 AS BIGINT) AS n_silent,
        |  CAST((st // 1024) % 16 AS BIGINT) AS n_runs,
        |  CAST((st // 32) % 32 AS BIGINT) AS max_run
        |FROM st ORDER BY doc_id, frame_no""".stripMargin,

    // same tokenization as ShingleCte's tok leg, list-slice windows
    // (DuckDB l[a:b] is 1-based inclusive and clips, like Spark slice),
    // integer milli division
    "qx79_mattr" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |t2 AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
        |  FROM tok WHERE len(toks) >= 3),
        |w AS (
        |  SELECT doc_id, n, toks,
        |    CAST(unnest(range(1,
        |      CAST(greatest(1, n - 24) AS INT) + 1)) AS BIGINT) AS i
        |  FROM t2),
        |d AS (
        |  SELECT doc_id, n,
        |    CAST(len(list_distinct(
        |      toks[CAST(i AS INT):CAST(i + 24 AS INT)])) AS BIGINT) AS d,
        |    least(25, n - i + 1) AS wl
        |  FROM w)
        |SELECT doc_id, n AS n_toks, CAST(count(*) AS BIGINT)
        |    AS n_windows,
        |  CAST(sum(d) AS BIGINT) * 1000 // CAST(sum(wl) AS BIGINT)
        |    AS mattr_milli
        |FROM d GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // day-grain rollup, row-distance ≤ 20 banded self-join, power-of-
    // two weights via << — the same two exact BIGINTs as the Spark side
    "qz44_ewma_backtest" ->
      """WITH d0 AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day FROM events),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS x
        |      FROM d0 GROUP BY day),
        |r AS (SELECT day, x,
        |        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
        |      FROM d),
        |p AS (
        |  SELECT a.day, a.x,
        |    CAST(sum(b.x * (CAST(1 AS BIGINT)
        |      << CAST(20 - (a.i - b.i) AS INT))) AS BIGINT) AS wsum,
        |    CAST(sum(CAST(1 AS BIGINT)
        |      << CAST(20 - (a.i - b.i) AS INT)) AS BIGINT) AS norm,
        |    CAST(max(CASE WHEN b.i = a.i - 1 THEN b.x END) AS BIGINT)
        |      AS naive
        |  FROM r a JOIN r b ON b.i >= a.i - 20 AND b.i <= a.i - 1
        |  GROUP BY a.day, a.x, a.i)
        |SELECT day, x AS n_events, wsum * 1000 // norm AS ewma_milli,
        |  naive,
        |  abs(x * norm - wsum) < abs(x - naive) * norm AS ewma_wins
        |FROM p ORDER BY day""".stripMargin,

    // qx33/qx47 share one CTE body (the capped gram-overlap engine);
    // only the final score projection differs
    "qx47_containment" -> (ShingleCte +
      s""",
        |d AS (SELECT doc_id,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh),
        |inv AS (SELECT doc_id, unnest(shd) AS s FROM d),
        |small AS (
        |  SELECT doc_id, s FROM inv
        |  WHERE s NOT IN (SELECT s FROM inv GROUP BY s
        |                  HAVING count(*) > ${JaccardGramCap})),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(count(*) AS DOUBLE) AS ni
        |  FROM small a JOIN small b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, CAST(len(shd) AS DOUBLE) AS n FROM d)
        |SELECT c.d1, c.d2, c.ni / x.n AS c_fwd, c.ni / y.n AS c_rev
        |FROM common c
        |JOIN sizes x ON x.doc_id = c.d1
        |JOIN sizes y ON y.doc_id = c.d2
        |WHERE greatest(c.ni / x.n, c.ni / y.n) >= 0.5
        |ORDER BY d1, d2""".stripMargin),

    "qx48_split_leakage" ->
      """WITH base AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS u
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, source,
        |    CASE WHEN CAST(u AS DOUBLE) / 4294967296E0 < 0.8 THEN 'train'
        |         WHEN CAST(u AS DOUBLE) / 4294967296E0 < 0.9 THEN 'val'
        |         ELSE 'test' END AS split,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_min(list_transform(
        |        list_transform(range(len(toks) - 2),
        |          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]),
        |        x -> md5('0:' || x)))
        |    ELSE NULL END AS fp
        |  FROM base),
        |leak AS (
        |  SELECT fp FROM sp WHERE fp IS NOT NULL
        |  GROUP BY fp HAVING count(DISTINCT split) >= 2)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN fp IN (SELECT fp FROM leak)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        |FROM sp GROUP BY source, split
        |ORDER BY source, split""".stripMargin,

    "qx49_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
        |       FROM tok GROUP BY 1, 2),
        |cf AS (SELECT term, sum(n) AS cf FROM st GROUP BY term),
        |vocab AS (SELECT term FROM cf ORDER BY cf DESC, term LIMIT 25)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN term NOT IN (SELECT term FROM vocab)
        |           THEN n ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN term NOT IN (SELECT term FROM vocab)
        |           THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE) AS oov_rate
        |FROM st GROUP BY source ORDER BY source""".stripMargin,

    // Σ√c is folded over source-sorted weights with a 0.0 seed —
    // bit-identical to the Spark plan's sorted aggregate fold
    "qx50_mixture_temperature" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |pw AS (
        |  SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_tokens,
        |         sqrt(CAST(sum(n_toks) AS DOUBLE)) AS w
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS b,
        |             list_reduce(list_prepend(0.0E0,
        |               list(w ORDER BY source)), (a, x) -> a + x) AS z
        |      FROM pw)
        |SELECT source, src_tokens, w / z AS p,
        |       w / z * CAST(b AS DOUBLE) AS expected_tokens,
        |       w / z * CAST(b AS DOUBLE) / CAST(src_tokens AS DOUBLE)
        |         AS boost
        |FROM pw CROSS JOIN t ORDER BY source""".stripMargin,

    // centroids are round-9 per-dimension means (bit-identical inputs
    // to the cosine in both engines); the mean cosine runs through
    // exact integer milli-arithmetic (qs3 discipline)
    "qe14_label_centroids" ->
      (s"""WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, round(avg(v), 9) + 0.0E0 AS cv
        |  FROM dims GROUP BY label, pos),
        |cvec AS (SELECT label, list(cv ORDER BY pos) AS cvec
        |         FROM cent GROUP BY label),
        |mem AS (
        |  SELECT e.label, ${cosSql("e.embedding", "c.cvec")} AS cos
        |  FROM embeddings e JOIN cvec c USING (label))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CAST(floor(cos * 1E9) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1E9 AS mean_cos,
        |  min(cos) AS min_cos
        |FROM mem GROUP BY label ORDER BY label""".stripMargin),

    // SQ8: the bounds fit is exact min/max — the twin recomputes it
    // instead of embedding fit literals (contrast qe4Sql/qe8Sql)
    "qe10_ann_sq8" ->
      s"""WITH ux AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |bounds AS (
        |  SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
        |  FROM ux GROUP BY i),
        |b AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |      FROM bounds),
        |deq AS (
        |  SELECT vec_id AS n_id,
        |    list_transform(list_zip(embedding, mns, mxs),
        |      p -> CASE WHEN p[3] > p[2]
        |        THEN p[2] + floor((CAST(p[1] AS DOUBLE) - p[2]) /
        |          (p[3] - p[2]) * 255E0 + 0.5E0) * ((p[3] - p[2]) / 255E0)
        |        ELSE p[2] END) AS dv
        |  FROM embeddings, b),
        |dn AS (
        |  SELECT n_id, dv,
        |    sqrt(list_reduce(list_transform(dv, v -> v * v),
        |      (a, c) -> a + c)) AS dnorm
        |  FROM deq),
        |q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb,
        |    sqrt(${CosSql.format("embedding", "embedding")}) AS qn
        |  FROM embeddings WHERE vec_id < 20),
        |sl AS (
        |  SELECT q_id, n_id, q_emb, qn
        |  FROM dn, q WHERE n_id <> q_id
        |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY
        |    (list_reduce(list_transform(list_zip(q_emb, dv),
        |       p -> CAST(p[1] AS DOUBLE) * p[2]), (a, c) -> a + c)
        |     / (qn * dnorm)) DESC, n_id) <= 100),
        |re AS (
        |  SELECT s.q_id, s.n_id,
        |    ${CosSql.format("s.q_emb", "e.embedding")} /
        |    (s.qn * sqrt(${CosSql.format("e.embedding", "e.embedding")}))
        |      AS cos
        |  FROM sl s JOIN embeddings e ON e.vec_id = s.n_id)
        |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, cos
        |FROM re WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "qx20_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
        |      FROM tok),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |                 CAST(sum(dl) AS BIGINT) AS sdl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  WHERE term IN ('spark', 'join', 'window', 'stream')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5E0) /
        |      (CAST(f.df AS DOUBLE) + 0.5E0)) *
        |    (CAST(t.tf AS DOUBLE) * 2.2E0) /
        |    (CAST(t.tf AS DOUBLE) + 1.2E0 *
        |      (0.25E0 + 0.75E0 * (CAST(t.dl AS DOUBLE) /
        |        (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) AS score
        |  FROM tf t JOIN dfq f USING (term) CROSS JOIN stats s),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |    list_reduce(list_prepend(0.0E0, list(score ORDER BY term)),
        |      (a, x) -> a + x) AS bm25
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_terms, bm25,
        |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
        |    AS rank
        |FROM perdoc
        |QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= 20
        |ORDER BY rank""".stripMargin,

    "qx1_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
        |       count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,

    "qx2_minhash_sig" -> (ShingleCte +
      """
        |SELECT doc_id,
        |  list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |  list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |  list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |  list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |FROM sh ORDER BY doc_id""".stripMargin),

    "qx3_lsh_pairs" -> (ShingleCte +
      """,
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig)
        |SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |FROM b a JOIN b c ON a.band = c.band AND a.doc_id < c.doc_id
        |ORDER BY d1, d2""".stripMargin),

    "qx21_lsh_capped" -> (ShingleCte +
      """,
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= 3))
        |SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |FROM small a JOIN small c ON a.band = c.band AND a.doc_id < c.doc_id
        |ORDER BY d1, d2""".stripMargin),

    "qx22_mixture_rebalance" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |ps AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_tokens
        |       FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |      FROM d),
        |j AS (
        |  SELECT d.doc_id, d.source,
        |    least(1.0E0,
        |      (CAST(t.total_tokens AS DOUBLE) / CAST(t.n_sources AS DOUBLE))
        |        / CAST(ps.src_tokens AS DOUBLE)) AS keep_rate,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(d.doc_id AS VARCHAR)), CAST(i AS INT), 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS u
        |  FROM d JOIN ps USING (source) CROSS JOIN t)
        |SELECT doc_id, source, keep_rate,
        |       (CAST(u AS DOUBLE) / 4294967296E0 < keep_rate) AS kept
        |FROM j ORDER BY doc_id""".stripMargin,

    "qx19_source_overlap" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id)
        |SELECT least(x.source, y.source) AS sa,
        |       greatest(x.source, y.source) AS sb,
        |       CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p
        |JOIN documents x ON x.doc_id = p.d1
        |JOIN documents y ON y.doc_id = p.d2
        |GROUP BY 1, 2
        |ORDER BY sa, sb""".stripMargin),

    "qx4_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |bits AS (
        |  SELECT doc_id, p,
        |         CASE WHEN 2 * sum(CASE WHEN strpos('89abcdef',
        |                substr(md5(t), CAST(p AS INTEGER), 1)) > 0
        |              THEN 1 ELSE 0 END) >= count(*)
        |              THEN '1' ELSE '0' END AS b
        |  FROM tok, range(1, 33) AS r(p)
        |  GROUP BY doc_id, p)
        |SELECT doc_id, string_agg(b, '' ORDER BY p) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "qx5_ngram_jaccard" -> (ShingleCte +
      """,
        |d AS (SELECT doc_id, lang, n_chars // 100 AS bucket,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE) /
        |       (CAST(len(a.shd) + len(b.shd) AS DOUBLE)
        |        - len(list_intersect(a.shd, b.shd))) AS ji
        |FROM d a JOIN d b ON a.lang = b.lang AND a.bucket = b.bucket
        |                 AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin),

    "qx33_jaccard_overlap" -> (ShingleCte +
      s""",
        |d AS (SELECT doc_id,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh),
        |inv AS (SELECT doc_id, unnest(shd) AS s FROM d),
        |small AS (
        |  SELECT doc_id, s FROM inv
        |  WHERE s NOT IN (SELECT s FROM inv GROUP BY s
        |                  HAVING count(*) > ${JaccardGramCap})),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(count(*) AS DOUBLE) AS ni
        |  FROM small a JOIN small b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, CAST(len(shd) AS DOUBLE) AS n FROM d)
        |SELECT c.d1, c.d2, c.ni / (x.n + y.n - c.ni) AS ji
        |FROM common c
        |JOIN sizes x ON x.doc_id = c.d1
        |JOIN sizes y ON y.doc_id = c.d2
        |ORDER BY d1, d2""".stripMargin),

    "qx6_langid" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
        |    len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(['的','是','不','了','在'], t))) AS s_zh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS pred
        |FROM sc ORDER BY doc_id""".stripMargin,

    "qx7_quality" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE) AS avg_wlen,
        |    CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x)))
        |       + len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x)))
        |       + len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x)))
        |       + len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x)))
        |       + len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x)))
        |      AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio
        |  FROM t)
        |SELECT doc_id, n_tokens, avg_wlen, stop_ratio,
        |       stop_ratio * 100.0 + avg_wlen + CAST(n_chars AS DOUBLE) / 1000.0
        |         AS score
        |FROM m ORDER BY doc_id""".stripMargin,

    "qx8_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS BIGINT) AS n_re
        |FROM documents ORDER BY doc_id""".stripMargin,

    "qx9_bottomk_fingerprint" -> (ShingleCte +
      """
        |SELECT doc_id,
        |  array_to_string(
        |    (list_sort(list_transform(s, x -> md5('0:' || x))))[1:4], ',') AS fp
        |FROM sh ORDER BY doc_id""".stripMargin),

    // qe2: the full LSH ANN path under the oracle — bands from the same
    // plane literals, candidate pairs on (band index, key), exact refine,
    // per-query top-5. Deterministic end to end.
    "qe2_ann_lsh" ->
      (s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |${rhpBandsSql(bands = 16, bitsPerBand = 4, dim = 64)} AS bnds
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, unnest(bnds, recursive := true) FROM b),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM e q JOIN e c ON q.i = c.i AND q.k = c.k
        |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT cand.q_id, cand.n_id,
        |    ${CosSql.format("qe.embedding", "ce.embedding")} /
        |    (sqrt(${CosSql.format("qe.embedding", "qe.embedding")}) *
        |     sqrt(${CosSql.format("ce.embedding", "ce.embedding")})) AS cos
        |  FROM cand
        |  JOIN embeddings qe ON qe.vec_id = cand.q_id
        |  JOIN embeddings ce ON ce.vec_id = cand.n_id)
        |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY q_id, rank""".stripMargin),

    // qe5: LSH near-dup pairs under the oracle — same generated band CTE,
    // pairs i<j sharing a band, exact cosine refine at the 0.4 threshold
    "qe5_neardup_lsh" ->
      (s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |${rhpBandsSql(bands = 16, bitsPerBand = 4, dim = 64)} AS bnds
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, unnest(bnds, recursive := true) FROM b),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS i, c.vec_id AS j
        |  FROM e a JOIN e c ON a.i = c.i AND a.k = c.k
        |  WHERE a.vec_id < c.vec_id)
        |SELECT cand.i, cand.j,
        |  ${CosSql.format("ae.embedding", "ce.embedding")} /
        |  (sqrt(${CosSql.format("ae.embedding", "ae.embedding")}) *
        |   sqrt(${CosSql.format("ce.embedding", "ce.embedding")})) AS cos
        |FROM cand
        |JOIN embeddings ae ON ae.vec_id = cand.i
        |JOIN embeddings ce ON ce.vec_id = cand.j
        |WHERE ${CosSql.format("ae.embedding", "ce.embedding")} /
        |  (sqrt(${CosSql.format("ae.embedding", "ae.embedding")}) *
        |   sqrt(${CosSql.format("ce.embedding", "ce.embedding")})) >= 0.4
        |ORDER BY i, j""".stripMargin),

    "qe1_cosine_knn" ->
      (s"""WITH d AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    ${CosSql.format("q.embedding", "c.embedding")} /
        |    (sqrt(${CosSql.format("q.embedding", "q.embedding")}) *
        |     sqrt(${CosSql.format("c.embedding", "c.embedding")})) AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 20 AND c.vec_id <> q.vec_id)
        |SELECT q_id, n_id, CAST(row_number() OVER w AS BIGINT) AS rank, cos
        |FROM d WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY q_id, rank""".stripMargin),

    "qe3_cosine_neardup" ->
      (s"""SELECT a.vec_id AS i, b.vec_id AS j,
        |  ${CosSql.format("a.embedding", "b.embedding")} /
        |  (sqrt(${CosSql.format("a.embedding", "a.embedding")}) *
        |   sqrt(${CosSql.format("b.embedding", "b.embedding")})) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |  AND ${CosSql.format("a.embedding", "b.embedding")} /
        |  (sqrt(${CosSql.format("a.embedding", "a.embedding")}) *
        |   sqrt(${CosSql.format("b.embedding", "b.embedding")})) >= 0.4
        |ORDER BY i, j""".stripMargin),

    "qx10_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "qx11_dedup_clusters" -> (ShingleCte +
      s""",
        |fpt AS (
        |  SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
        |  FROM tok WHERE len(toks) >= 3),
        |rep AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY fp),
        |docrep AS (
        |  SELECT f.doc_id, r.rep FROM fpt f JOIN rep r USING (fp)),
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh WHERE doc_id IN (SELECT rep FROM rep)),
        |bnd AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM bnd
        |  WHERE band IN (SELECT band FROM bnd GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |e AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM e UNION SELECT d2 FROM e) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = e.d1 THEN e.d2 ELSE e.d1 END, r.label
        |  FROM reach r JOIN e ON r.node = e.d1 OR r.node = e.d2),
        |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |expand AS (
        |  SELECT dr.doc_id, coalesce(cc.cluster, dr.rep) AS cluster
        |  FROM docrep dr LEFT JOIN cc ON dr.rep = cc.node)
        |SELECT d.doc_id, coalesce(x.cluster, d.doc_id) AS cluster,
        |       coalesce(x.cluster, d.doc_id) = d.doc_id AS keeper
        |FROM documents d LEFT JOIN expand x ON d.doc_id = x.doc_id
        |ORDER BY d.doc_id""".stripMargin).replace("WITH tok AS",
      "WITH RECURSIVE tok AS"),

    "qm1_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
        |       md5(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin,

    "qx12_stratified_sample" ->
      """SELECT doc_id, lang,
        |       substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      CASE WHEN lang = 'en' THEN '40000000'
        |           WHEN lang = 'zh' THEN '80000000'
        |           ELSE 'c0000000' END
        |ORDER BY doc_id""".stripMargin,

    "qx13_decontam" -> (ShingleCte +
      """,
        |probe AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)),
        |corp AS (
        |  SELECT doc_id, unnest(list_distinct(s)) AS g
        |  FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM corp JOIN probe USING (g) GROUP BY corp.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, 0) AS n_shared,
        |       COALESCE(h.n_shared, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin),

    "qx14_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tc AS (
        |  SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term
        |  FROM tok),
        |cnt AS (
        |  SELECT doc_id, n_toks, term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tc GROUP BY doc_id, n_toks, term),
        |df AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM tc GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |scored AS (
        |  SELECT c.doc_id, c.term,
        |    (CAST(c.cnt AS DOUBLE) / CAST(c.n_toks AS DOUBLE)) *
        |    ((CAST(n.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0))
        |      AS tfidf
        |  FROM cnt c JOIN df d USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "qe6_range_search" ->
      (s"""SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |  ${CosSql.format("q.embedding", "c.embedding")} /
        |  (sqrt(${CosSql.format("q.embedding", "q.embedding")}) *
        |   sqrt(${CosSql.format("c.embedding", "c.embedding")})) AS cos
        |FROM embeddings q JOIN embeddings c
        |  ON q.vec_id < 20 AND c.vec_id <> q.vec_id
        |WHERE ${CosSql.format("q.embedding", "c.embedding")} /
        |  (sqrt(${CosSql.format("q.embedding", "q.embedding")}) *
        |   sqrt(${CosSql.format("c.embedding", "c.embedding")})) >= 0.25
        |ORDER BY q_id, n_id""".stripMargin),

    "qx15_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t1 AS (
        |  SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS t FROM tok),
        |t2 AS (
        |  SELECT doc_id, n_toks, t, count(*) AS c
        |  FROM t1 GROUP BY doc_id, n_toks, t),
        |tt AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(n_toks AS DOUBLE)
        |    AS top_term_ratio
        |  FROM t2 GROUP BY doc_id, n_toks),
        |b1 AS (
        |  SELECT doc_id, len(toks) - 1 AS n_bi,
        |    unnest(list_transform(range(len(toks) - 1),
        |      i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM tok WHERE len(toks) >= 2),
        |b2 AS (
        |  SELECT doc_id, n_bi, g, count(*) AS c
        |  FROM b1 GROUP BY doc_id, n_bi, g),
        |bt AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(n_bi AS DOUBLE)
        |    AS top_bigram_ratio
        |  FROM b2 GROUP BY doc_id, n_bi)
        |SELECT d.doc_id AS doc_id,
        |  COALESCE(tt.top_term_ratio, 0.0) AS top_term_ratio,
        |  COALESCE(bt.top_bigram_ratio, 0.0) AS top_bigram_ratio,
        |  COALESCE(tt.top_term_ratio, 0.0) > 0.2 OR
        |    COALESCE(bt.top_bigram_ratio, 0.0) > 0.18 AS flagged
        |FROM documents d
        |LEFT JOIN tt ON d.doc_id = tt.doc_id
        |LEFT JOIN bt ON d.doc_id = bt.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "qx16_span_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 12),
        |    i -> list_reduce(toks[i+1:i+13], (a, b) -> a || ' ' || b))) AS g
        |  FROM tok WHERE len(toks) >= 13),
        |gm AS (SELECT doc_id, md5(g) AS m FROM g),
        |gh AS (
        |  SELECT doc_id, list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(m, CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM gm),
        |dfreq AS (
        |  SELECT h, count(DISTINCT doc_id) AS n_docs FROM gh GROUP BY h),
        |pd AS (
        |  SELECT gh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN dfreq.n_docs >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_dup
        |  FROM gh JOIN dfreq USING (h) GROUP BY gh.doc_id)
        |SELECT d.doc_id AS doc_id,
        |  COALESCE(pd.n_grams, 0) AS n_grams,
        |  COALESCE(pd.n_dup, 0) AS n_dup,
        |  CASE WHEN COALESCE(pd.n_grams, 0) > 0
        |    THEN CAST(pd.n_dup AS DOUBLE) / CAST(pd.n_grams AS DOUBLE)
        |    ELSE 0.0 END AS dup_frac
        |FROM documents d
        |LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "qx23_span_removal" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |    list_reduce(toks[p+1:p+13], (a, b) -> a || ' ' || b) AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 12)) AS p
        |        FROM tok WHERE len(toks) >= 13)),
        |gh AS (
        |  SELECT doc_id, p,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(gram), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS h
        |  FROM g),
        |dup AS (
        |  SELECT h FROM gh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |ds AS (SELECT doc_id, p FROM gh WHERE h IN (SELECT h FROM dup)),
        |t AS (
        |  SELECT doc_id, unnest(toks) AS tok,
        |    CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS t
        |  FROM tok),
        |f AS (
        |  SELECT t.doc_id, t.t, t.tok,
        |    CASE WHEN ds.p IS NOT NULL THEN 1 ELSE 0 END AS flag0
        |  FROM t LEFT JOIN ds ON ds.doc_id = t.doc_id AND ds.p = t.t),
        |r AS (
        |  SELECT doc_id, t, tok,
        |    max(flag0) OVER (PARTITION BY doc_id ORDER BY t
        |      RANGE BETWEEN 12 PRECEDING AND CURRENT ROW) AS removed
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(removed) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN removed = 0 THEN tok END, ' '
        |    ORDER BY t), '')) AS clean_md5
        |FROM r GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "qx27_normalize" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
        |    AS n_nums,
        |  md5(regexp_replace(text, '[0-9]+', '<num>', 'g')) AS norm_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "qx28_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         unnest(toks) AS term
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |tf AS (
        |  SELECT doc_id, n_toks, term, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY doc_id, n_toks, term),
        |sc AS (
        |  SELECT doc_id, n_toks, term,
        |         (CAST(c AS DOUBLE) / CAST(n_toks AS DOUBLE)) AS p
        |  FROM tf)
        |SELECT doc_id,
        |  round(-list_reduce(list_prepend(0.0E0,
        |      list(p * ln(p) ORDER BY term)),
        |    (a, x) -> a + x), 9) + 0.0E0 AS entropy
        |FROM sc GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,

    "qx29_pmi_bigrams" ->
      """WITH d AS (
        |  SELECT toks FROM (SELECT string_split(text, ' ') AS toks
        |                    FROM documents)
        |  WHERE len(toks) >= 3),
        |uni AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS cx
        |  FROM (SELECT unnest(toks) AS term FROM d) GROUP BY term),
        |n1t AS (SELECT CAST(sum(cx) AS BIGINT) AS n1 FROM uni),
        |bi AS (
        |  SELECT bg, CAST(count(*) AS BIGINT) AS cxy
        |  FROM (SELECT unnest(list_transform(range(len(toks) - 1),
        |          i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg FROM d)
        |  GROUP BY bg HAVING count(*) >= 5),
        |n2t AS (SELECT CAST(sum(cxy) AS BIGINT) AS n2 FROM bi)
        |SELECT bg,
        |  round(ln((CAST(cxy AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |     ((CAST(ux.cx AS DOUBLE) / CAST(n1 AS DOUBLE)) *
        |      (CAST(uy.cx AS DOUBLE) / CAST(n1 AS DOUBLE)))), 9) AS pmi
        |FROM bi
        |JOIN uni ux ON ux.term = string_split(bg, ' ')[1]
        |JOIN uni uy ON uy.term = string_split(bg, ' ')[2]
        |CROSS JOIN n1t CROSS JOIN n2t
        |ORDER BY pmi DESC, bg LIMIT 100""".stripMargin,

    "qx34_lm_score" ->
      // h60(s) = first 15 md5 hex digits as a BIGINT — the same 60-bit
      // gram key ShingleHashesExpr computes from the digest bytes (qx31
      // twin precedent); bigram strings are space-joined like the kernel
      """WITH d AS (
        |  SELECT doc_id, toks
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |bgx AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
        |    i -> {'g': toks[i + 1] || ' ' || toks[i + 2],
        |          'x': toks[i + 1]})) AS s
        |  FROM d),
        |hx AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(struct_extract(s, 'g')), CAST(i AS INT), 1)) - 1
        |        AS BIGINT)), (a, b) -> a * 16 + b) AS bh,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(struct_extract(s, 'x')), CAST(i AS INT), 1)) - 1
        |        AS BIGINT)), (a, b) -> a * 16 + b) AS xh
        |  FROM bgx),
        |occ AS (
        |  SELECT doc_id, bh, min(xh) AS xh, CAST(count(*) AS BIGINT) AS k
        |  FROM hx GROUP BY doc_id, bh),
        |cb AS (SELECT bh, min(xh) AS xh, CAST(sum(k) AS BIGINT) AS cxy
        |       FROM occ GROUP BY bh),
        |cxt AS (SELECT xh, CAST(sum(cxy) AS BIGINT) AS cx
        |        FROM cb GROUP BY xh),
        |vt AS (SELECT CAST(count(DISTINCT list_reduce(
        |    list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(t), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b)) AS BIGINT) AS v
        |  FROM (SELECT unnest(toks) AS t FROM d)),
        |nll AS (
        |  SELECT bh, round(-ln((CAST(cxy AS DOUBLE) + 0.5) /
        |      (CAST(cx AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))), 9) AS nll
        |  FROM cb JOIN cxt USING (xh) CROSS JOIN vt)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |  list_reduce(list_prepend(0.0E0,
        |      list(CAST(k AS DOUBLE) * nll
        |           ORDER BY CAST(k AS DOUBLE) * nll)),
        |    (a, x) -> a + x) / CAST(sum(k) AS DOUBLE) AS lm_score
        |FROM occ JOIN nll USING (bh)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "qx35_dsir_weights" ->
      // unigram ∪ bigram grams, the same h60 md5-fold as the kernel,
      // bucketed mod 8192; target slice = en × {src18, src6, src7}
      """WITH d AS (
        |  SELECT doc_id, lang, source, toks
        |  FROM (SELECT doc_id, lang, source,
        |          string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |g AS (
        |  SELECT doc_id, lang, source, unnest(list_concat(toks,
        |    list_transform(range(len(toks) - 1),
        |      i -> toks[i + 1] || ' ' || toks[i + 2]))) AS gram
        |  FROM d),
        |hb AS (
        |  SELECT doc_id, lang, source,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(gram), CAST(i AS INT), 1)) - 1
        |        AS BIGINT)), (a, b) -> a * 16 + b) % 8192 AS b
        |  FROM g),
        |occ AS (
        |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS k
        |  FROM hb GROUP BY doc_id, b),
        |cs AS (SELECT b, CAST(count(*) AS BIGINT) AS c
        |       FROM hb GROUP BY b),
        |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c
        |       FROM hb
        |       WHERE lang = 'en' AND source IN ('src18', 'src6', 'src7')
        |       GROUP BY b),
        |ns AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cs),
        |nt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS m FROM ct),
        |lam AS (
        |  SELECT cs.b,
        |    CAST(round((ln((CAST(coalesce(ct.c, 0) AS DOUBLE) + 0.5) /
        |        (nt.m + 0.5 * 8192)) -
        |      ln((CAST(cs.c AS DOUBLE) + 0.5) /
        |        (ns.n + 0.5 * 8192))) * 1000000000.0) AS BIGINT) AS lam_n
        |  FROM cs LEFT JOIN ct USING (b) CROSS JOIN ns CROSS JOIN nt),
        |w AS (
        |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_grams,
        |    CAST(sum(k * lam_n) AS DOUBLE) / 1000000000.0 AS dsir_weight
        |  FROM occ JOIN lam USING (b) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
        |  coalesce(w.dsir_weight, 0.0E0) AS dsir_weight
        |FROM documents d LEFT JOIN w USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "qx36_nb_langid" ->
      """WITH d AS (
        |  SELECT doc_id, lang, toks
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 3),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_concat(toks,
        |    list_transform(range(len(toks) - 1),
        |      i -> toks[i + 1] || ' ' || toks[i + 2]))) AS gram
        |  FROM d),
        |hb AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_transform(range(1, 16),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(gram), CAST(i AS INT), 1)) - 1
        |        AS BIGINT)), (a, b) -> a * 16 + b) % 8192 AS b
        |  FROM g),
        |occ AS (
        |  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS k
        |  FROM hb GROUP BY doc_id, b),
        |clb AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS c
        |        FROM hb GROUP BY lang, b),
        |nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl
        |       FROM clb GROUP BY lang),
        |grid AS (
        |  SELECT nl.lang, bs.b, nl.nl
        |  FROM (SELECT DISTINCT b FROM hb) bs CROSS JOIN nl),
        |plb AS (
        |  SELECT grid.lang, grid.b,
        |    CAST(round(ln((CAST(coalesce(clb.c, 0) AS DOUBLE) + 0.5) /
        |      (CAST(grid.nl AS DOUBLE) + 0.5 * 8192)) * 1000000000.0)
        |      AS BIGINT) AS lnp_n
        |  FROM grid LEFT JOIN clb USING (lang, b)),
        |prior AS (
        |  SELECT lang AS p_lang,
        |    CAST(round(ln(CAST(count(*) AS DOUBLE) /
        |      (SELECT CAST(count(*) AS DOUBLE) FROM d)) * 1000000000.0)
        |      AS BIGINT) AS lnprior_n
        |  FROM d GROUP BY lang),
        |score AS (
        |  SELECT occ.doc_id, plb.lang AS p_lang,
        |    CAST(sum(occ.k * plb.lnp_n) AS BIGINT) AS s
        |  FROM occ JOIN plb USING (b) GROUP BY occ.doc_id, plb.lang),
        |best AS (
        |  SELECT doc_id, p_lang
        |  FROM (SELECT score.doc_id, score.p_lang,
        |          score.s + prior.lnprior_n AS sc
        |        FROM score JOIN prior USING (p_lang))
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY sc DESC, p_lang) = 1)
        |SELECT d.doc_id, d.lang, best.p_lang AS pred_lang,
        |       best.p_lang = d.lang AS correct
        |FROM d JOIN best USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "qx37_pack_sequences" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_toks,
        |         sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT source, doc_id, n_toks,
        |       CAST(cum - n_toks AS BIGINT) AS start_off,
        |       CAST((cum - n_toks) // 256 AS BIGINT) AS first_bin,
        |       CAST((cum - 1) // 256 AS BIGINT) AS last_bin,
        |       ((cum - n_toks) // 256) <> ((cum - 1) // 256) AS straddles
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "qx38_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, toks, len(toks) AS n
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, toks, n,
        |         unnest(range(0, 1 + greatest(0, (n - 17) // 48)))
        |           AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       CAST(len(ch) AS BIGINT) AS n_chunk_toks,
        |       md5(array_to_string(ch, ' ')) AS chunk_md5
        |FROM (SELECT doc_id, chunk_id,
        |        list_slice(toks, CAST(chunk_id * 48 + 1 AS BIGINT),
        |          CAST(least(chunk_id * 48 + 64, n) AS BIGINT)) AS ch
        |      FROM c)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "qx39_cms_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY term),
        |tb AS (
        |  SELECT term, c, i,
        |    list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(i AS VARCHAR) || ':' || term),
        |          CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) % 1024 AS b
        |  FROM tf, range(0, 4) AS r(i)),
        |counters AS (
        |  SELECT i, b, sum(c) AS cnt FROM tb GROUP BY i, b),
        |top AS (
        |  SELECT term, c AS exact_n FROM tf
        |  ORDER BY c DESC, term LIMIT 20)
        |SELECT top.term AS term, top.exact_n,
        |       CAST(min(co.cnt) AS BIGINT) AS cms_n
        |FROM top
        |JOIN tb ON tb.term = top.term
        |JOIN counters co ON co.i = tb.i AND co.b = tb.b
        |GROUP BY 1, 2
        |ORDER BY exact_n DESC, term""".stripMargin,

    "qx40_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    (CAST(list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS DOUBLE) + 1)
        |      / 1.152921504606847e18 AS u
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang, n_toks,
        |         CAST(round(-ln(u) / CAST(n_toks AS DOUBLE) * 1e6)
        |           AS BIGINT) AS key6
        |  FROM d)
        |SELECT lang, CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY key6, doc_id) AS BIGINT) AS rank,
        |       doc_id, n_toks
        |FROM k
        |QUALIFY rank <= 16
        |ORDER BY lang, rank""".stripMargin,

    "qx41_delta_dedup" -> (ShingleCte +
      s""",
        |src AS (SELECT doc_id, source FROM documents),
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |bs AS (SELECT b.doc_id, b.band, src.source
        |       FROM b JOIN src USING (doc_id)),
        |idx AS (
        |  SELECT doc_id AS old_id, band FROM bs
        |  WHERE source IN ('src0','src1','src2','src3','src4',
        |                   'src5','src6','src7','src8','src9')),
        |idxc AS (
        |  SELECT old_id, band FROM idx
        |  WHERE band IN (SELECT band FROM idx GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |cand AS (
        |  SELECT DISTINCT n.doc_id AS new_id, idxc.old_id
        |  FROM bs n JOIN idxc USING (band)
        |  WHERE n.source NOT IN ('src0','src1','src2','src3','src4',
        |                         'src5','src6','src7','src8','src9')),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(s,
        |    x -> list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(x), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)))) AS gk
        |  FROM sh),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
        |       FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT cand.new_id, cand.old_id,
        |         CAST(count(*) AS BIGINT) AS ninter
        |  FROM cand
        |  JOIN g gn ON gn.doc_id = cand.new_id
        |  JOIN g go ON go.doc_id = cand.old_id AND go.gk = gn.gk
        |  GROUP BY 1, 2),
        |dups AS (
        |  SELECT new_id, min(old_id) AS dup_of
        |  FROM inter
        |  JOIN sz zn ON zn.doc_id = inter.new_id
        |  JOIN sz zo ON zo.doc_id = inter.old_id
        |  WHERE CAST(ninter AS DOUBLE)
        |          / CAST(zn.sz + zo.sz - ninter AS DOUBLE) >= 0.5
        |  GROUP BY new_id)
        |SELECT d.doc_id, d.source, dups.dup_of,
        |       dups.dup_of IS NULL AS is_new
        |FROM documents d
        |LEFT JOIN dups ON dups.new_id = d.doc_id
        |WHERE d.source NOT IN ('src0','src1','src2','src3','src4',
        |                       'src5','src6','src7','src8','src9')
        |ORDER BY d.doc_id""".stripMargin),

    "qx42_cdc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(range(1, n), i ->
        |      (list_reduce(list_transform(range(1, 16),
        |        j -> CAST(strpos('0123456789abcdef',
        |          substr(md5(toks[i]), CAST(j AS INT), 1)) - 1
        |          AS BIGINT)),
        |        (a, x) -> a * 16 + x) % 16 = 0)) AS bp
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks,
        |         list_prepend(1, list_transform(bp, x -> x + 1)) AS starts,
        |         list_append(bp, n) AS ends
        |  FROM b),
        |e AS (
        |  SELECT doc_id, toks, starts, ends,
        |         unnest(range(len(starts))) AS ci
        |  FROM c),
        |ch AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_slice(toks,
        |      starts[ci + 1], ends[ci + 1]), ' ')) AS f
        |  FROM e),
        |kk AS (
        |  SELECT doc_id, list_reduce(list_transform(range(1, 16),
        |    j -> CAST(strpos('0123456789abcdef',
        |      substr(f, CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |    (a, x) -> a * 16 + x) AS k
        |  FROM ch),
        |dfre AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM (SELECT DISTINCT doc_id, k FROM kk) GROUP BY k)
        |SELECT kk.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN dfre.n_docs >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(CASE WHEN dfre.n_docs >= 2 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM kk JOIN dfre USING (k)
        |GROUP BY kk.doc_id
        |ORDER BY doc_id""".stripMargin,

    "qx43_winnow_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |hs AS (
        |  SELECT doc_id, list_transform(range(len(toks) - 2),
        |    i -> list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |          toks[i+3]), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x)) AS h
        |  FROM tok WHERE len(toks) >= 3),
        |fp AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(h) >= 4
        |      THEN list_transform(range(len(h) - 3),
        |        i -> list_min(h[i+1:i+4]))
        |      ELSE [list_min(h)] END) AS fps
        |  FROM hs),
        |x AS (SELECT doc_id, unnest(fps) AS v FROM fp),
        |dfre AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS n_docs FROM x GROUP BY v)
        |SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_fp,
        |  CAST(sum(CASE WHEN dfre.n_docs >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_shared,
        |  CAST(sum(CASE WHEN dfre.n_docs >= 2 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS share_frac
        |FROM x JOIN dfre USING (v)
        |GROUP BY x.doc_id
        |ORDER BY doc_id""".stripMargin,

    "qx44_kl_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |hb AS (
        |  SELECT source, list_reduce(list_transform(range(1, 16),
        |    j -> CAST(strpos('0123456789abcdef',
        |      substr(md5(term), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |    (a, x) -> a * 16 + x) % 4096 AS b
        |  FROM tok),
        |fact AS (
        |  SELECT source, b, CAST(count(*) AS BIGINT) AS k
        |  FROM hb GROUP BY source, b),
        |corpus AS (
        |  SELECT b, CAST(sum(k) AS BIGINT) AS ck FROM fact GROUP BY b),
        |ns AS (
        |  SELECT source, CAST(sum(k) AS BIGINT) AS nsrc
        |  FROM fact GROUP BY source),
        |nt AS (SELECT CAST(sum(ck) AS BIGINT) AS ntot FROM corpus),
        |grid AS (
        |  SELECT ns.source, ns.nsrc, corpus.b, corpus.ck,
        |         COALESCE(fact.k, 0) AS k, nt.ntot
        |  FROM ns CROSS JOIN corpus CROSS JOIN nt
        |  LEFT JOIN fact USING (source, b)),
        |pc AS (
        |  SELECT source, nsrc, k,
        |    (CAST(k AS DOUBLE) + 0.5) /
        |      (CAST(nsrc AS DOUBLE) + 2048.0) AS p,
        |    (CAST(ck AS DOUBLE) + 0.5) /
        |      (CAST(ntot AS DOUBLE) + 2048.0) AS q
        |  FROM grid),
        |cn AS (
        |  SELECT source, nsrc, k,
        |    CAST(round(p * ln(p / q) * 1000000000.0) AS BIGINT) AS c_nn
        |  FROM pc)
        |SELECT source, nsrc AS n_toks,
        |  CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_buckets,
        |  CAST(sum(c_nn) AS BIGINT) AS kl_nn
        |FROM cn GROUP BY source, nsrc
        |ORDER BY source""".stripMargin,

    "qx45_bloom_decontam" -> (ShingleCte +
      """,
        |bgk AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(s,
        |    x -> list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(x), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)))) AS gk
        |  FROM sh WHERE doc_id % 97 = 0),
        |bits AS (
        |  SELECT DISTINCT i,
        |    (gk % 8192 + i * (((gk >> 13) % 8192) * 2 + 1)) % 8192 AS p
        |  FROM bgk, range(0, 3) AS r(i)),
        |cg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(s,
        |    x -> list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(x), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b)))) AS gk
        |  FROM sh WHERE doc_id % 97 <> 0),
        |ck AS (
        |  SELECT doc_id, gk,
        |    (gk % 8192 + 0 * (((gk >> 13) % 8192) * 2 + 1)) % 8192 AS p0,
        |    (gk % 8192 + 1 * (((gk >> 13) % 8192) * 2 + 1)) % 8192 AS p1,
        |    (gk % 8192 + 2 * (((gk >> 13) % 8192) * 2 + 1)) % 8192 AS p2
        |  FROM cg),
        |nb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom
        |  FROM ck
        |  WHERE p0 IN (SELECT p FROM bits WHERE i = 0)
        |    AND p1 IN (SELECT p FROM bits WHERE i = 1)
        |    AND p2 IN (SELECT p FROM bits WHERE i = 2)
        |  GROUP BY doc_id),
        |ne AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact
        |  FROM ck WHERE gk IN (SELECT gk FROM bgk)
        |  GROUP BY doc_id),
        |ng AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM ck GROUP BY doc_id)
        |SELECT ng.doc_id, ng.n_grams,
        |  COALESCE(nb.n_bloom, 0) AS n_bloom,
        |  COALESCE(ne.n_exact, 0) AS n_exact,
        |  COALESCE(nb.n_bloom, 0) >= 1 AS flagged_bloom,
        |  COALESCE(ne.n_exact, 0) >= 1 AS flagged_exact
        |FROM ng LEFT JOIN nb USING (doc_id) LEFT JOIN ne USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    "qx32_corpus_card" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         unnest(toks) AS term
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |tf AS (
        |  SELECT doc_id, n_toks, term, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY doc_id, n_toks, term),
        |sc AS (
        |  SELECT doc_id, n_toks, term,
        |         (CAST(c AS DOUBLE) / CAST(n_toks AS DOUBLE)) AS p
        |  FROM tf),
        |ent AS (
        |  SELECT doc_id, n_toks,
        |    round(-list_reduce(list_prepend(0.0E0,
        |        list(p * ln(p) ORDER BY term)),
        |      (a, x) -> a + x), 9) + 0.0E0 AS ent
        |  FROM sc GROUP BY doc_id, n_toks),
        |agg AS (
        |  SELECT d.source, d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(e.n_toks) AS BIGINT) AS total_toks,
        |    list_reduce(list_prepend(0.0E0, list(e.ent ORDER BY d.doc_id)),
        |      (a, x) -> a + x) AS s_ent
        |  FROM documents d JOIN ent e USING (doc_id)
        |  GROUP BY d.source, d.lang)
        |SELECT source, lang, n_docs, total_chars, total_toks,
        |  s_ent / CAST(n_docs AS DOUBLE) AS mean_entropy
        |FROM agg ORDER BY source, lang""".stripMargin,

    "qx31_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 2),
        |    i -> list_reduce(toks[i+1:i+3], (a, b) -> a || ' ' || b)))
        |    AS g
        |  FROM tok WHERE len(toks) >= 3),
        |gh AS (
        |  SELECT doc_id, list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM g),
        |dg AS (SELECT DISTINCT doc_id, h FROM gh),
        |fs AS (SELECT h, min(doc_id) AS first_doc FROM dg GROUP BY h)
        |SELECT dg.doc_id AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        |FROM dg JOIN fs USING (h) GROUP BY dg.doc_id
        |ORDER BY doc_id""".stripMargin,

    "qe13_knn_classify" ->
      (s"""WITH d AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, c.label AS n_label,
        |    ${cosSql("q.embedding", "c.embedding")} AS cos
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id),
        |k AS (
        |  SELECT q_id, n_label FROM d
        |  QUALIFY row_number() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, n_id) <= 5),
        |v AS (SELECT q_id, n_label, CAST(count(*) AS BIGINT) AS votes
        |      FROM k GROUP BY q_id, n_label),
        |p AS (SELECT q_id, n_label AS predicted, votes FROM v
        |      QUALIFY row_number() OVER (PARTITION BY q_id
        |        ORDER BY votes DESC, n_label) <= 1)
        |SELECT p.q_id AS q_id, CAST(e.label AS BIGINT) AS label,
        |       CAST(p.predicted AS BIGINT) AS predicted, p.votes AS votes,
        |       p.predicted = e.label AS correct
        |FROM p JOIN embeddings e ON e.vec_id = p.q_id
        |ORDER BY q_id""".stripMargin),

    "qx30_zipf_slope" ->
      """WITH tc AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY source, term),
        |ranked AS (
        |  SELECT source, c, row_number() OVER (PARTITION BY source
        |           ORDER BY c DESC, term) AS rank
        |  FROM tc QUALIFY rank <= 200),
        |pts AS (
        |  SELECT source, rank, ln(CAST(rank AS DOUBLE)) AS x,
        |         ln(CAST(c AS DOUBLE)) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    list_reduce(list_prepend(0.0E0, list(x ORDER BY rank)),
        |      (a, b) -> a + b) AS sx,
        |    list_reduce(list_prepend(0.0E0, list(y ORDER BY rank)),
        |      (a, b) -> a + b) AS sy,
        |    list_reduce(list_prepend(0.0E0, list(x * y ORDER BY rank)),
        |      (a, b) -> a + b) AS sxy,
        |    list_reduce(list_prepend(0.0E0, list(x * x ORDER BY rank)),
        |      (a, b) -> a + b) AS sxx
        |  FROM pts GROUP BY source)
        |SELECT source,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
        |    AS zipf_slope
        |FROM sums ORDER BY source""".stripMargin,

    "qx26_sketch_jaccard" ->
      """WITH tok AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT source, unnest(list_transform(range(len(toks) - 2),
        |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gr
        |  FROM tok WHERE len(toks) >= 3),
        |h AS (SELECT DISTINCT source, md5(gr) AS h FROM g),
        |rk AS (SELECT source, h,
        |         row_number() OVER (PARTITION BY source ORDER BY h) AS r
        |       FROM h),
        |sk AS (SELECT source, list(h ORDER BY h) AS hs
        |       FROM rk WHERE r <= 64 GROUP BY source),
        |p AS (SELECT a.source AS s1, b.source AS s2, a.hs AS ha, b.hs AS hb
        |      FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (SELECT s1, s2, ha, hb,
        |        list_sort(list_distinct(ha || hb))[1:64] AS u FROM p)
        |SELECT s1, s2,
        |  CAST(len(list_filter(u, x -> list_contains(ha, x)
        |         AND list_contains(hb, x))) AS DOUBLE)
        |    / CAST(least(64, len(u)) AS DOUBLE) AS j_est
        |FROM u ORDER BY s1, s2""".stripMargin,

    "qx25_mean_inv_freq" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
        |         unnest(toks) AS term
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |tf AS (
        |  SELECT doc_id, n_toks, term, CAST(count(*) AS BIGINT) AS c
        |  FROM t GROUP BY doc_id, n_toks, term),
        |gt AS (SELECT term, CAST(sum(c) AS BIGINT) AS tfg
        |       FROM tf GROUP BY term),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM tf),
        |sc AS (
        |  SELECT f.doc_id, f.n_toks, f.term,
        |    CAST(f.c AS DOUBLE) *
        |      (CAST(tot.nt AS DOUBLE) / CAST(g.tfg AS DOUBLE)) AS s
        |  FROM tf f JOIN gt g USING (term) CROSS JOIN tot)
        |SELECT doc_id, n_toks,
        |  list_reduce(list_prepend(0.0E0, list(s ORDER BY term)),
        |    (a, x) -> a + x) / CAST(n_toks AS DOUBLE) AS mif
        |FROM sc GROUP BY doc_id, n_toks
        |ORDER BY doc_id""".stripMargin,

    "qx24_hybrid_rrf" ->
      (s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
        |      FROM tok),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |                 CAST(sum(dl) AS BIGINT) AS sdl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
        |  WHERE term IN ('spark', 'join', 'window', 'stream')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY term),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    ((CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5E0) /
        |      (CAST(f.df AS DOUBLE) + 0.5E0)) *
        |    (CAST(t.tf AS DOUBLE) * 2.2E0) /
        |    (CAST(t.tf AS DOUBLE) + 1.2E0 *
        |      (0.25E0 + 0.75E0 * (CAST(t.dl AS DOUBLE) /
        |        (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) AS score
        |  FROM tf t JOIN dfq f USING (term) CROSS JOIN stats s),
        |perdoc AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0.0E0, list(score ORDER BY term)),
        |      (a, x) -> a + x) AS bm25
        |  FROM scored GROUP BY doc_id),
        |sparse AS (
        |  SELECT doc_id, CAST(row_number() OVER ws AS BIGINT) AS rank_s
        |  FROM perdoc WINDOW ws AS (ORDER BY bm25 DESC, doc_id)
        |  QUALIFY row_number() OVER ws <= 50),
        |dense AS (
        |  SELECT e.vec_id AS doc_id,
        |    CAST(row_number() OVER wd AS BIGINT) AS rank_d
        |  FROM embeddings e CROSS JOIN
        |    (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  WINDOW wd AS (ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC,
        |    e.vec_id)
        |  QUALIFY row_number() OVER wd <= 50),
        |fused AS (
        |  SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
        |    s.rank_s, de.rank_d,
        |    COALESCE(1.0E0 / (60.0E0 + CAST(s.rank_s AS DOUBLE)), 0.0E0) +
        |    COALESCE(1.0E0 / (60.0E0 + CAST(de.rank_d AS DOUBLE)), 0.0E0)
        |      AS rrf
        |  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id)
        |SELECT doc_id, rank_s, rank_d, rrf,
        |  CAST(row_number() OVER w AS BIGINT) AS rank
        |FROM fused WINDOW w AS (ORDER BY rrf DESC, doc_id)
        |QUALIFY row_number() OVER w <= 20
        |ORDER BY rank""").stripMargin,

    // byte-exact twin (see qm4): hex-string slicing at doubled offsets
    // equals byte slicing of the UTF-8 payload for any corpus
    "qm2_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |  substr(hx, CAST(i*128 + 1 AS INT), 32) AS frame_hex,
        |  CAST(length(substr(hx, CAST(i*128 + 1 AS INT), 32)) // 2
        |    AS BIGINT) AS frame_len
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,

    // same frame staging as qm2; byte values from the two-nibble strpos
    // fold (hex() is uppercase in both engines)
    "qm5_frame_stats" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    CAST(length(fh) // 2 AS BIGINT) AS frame_len,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      b -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g)
        |SELECT doc_id, frame_no, frame_len,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bv),
        |    (a, x) -> a + x) AS BIGINT) AS energy,
        |  list_max(bv) AS peak,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bv),
        |    (a, x) -> a + x) AS DOUBLE) / CAST(frame_len AS DOUBLE)
        |    AS mean_byte
        |FROM h WHERE frame_len > 0
        |ORDER BY doc_id, frame_no""".stripMargin,

    "qx18_length_quantiles" ->
      """WITH hist AS (
        |  SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, n_chars,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS total
        |  FROM hist)
        |SELECT lang,
        |  min(CASE WHEN cum * 100 >= total * 25 THEN n_chars END) AS p25,
        |  min(CASE WHEN cum * 100 >= total * 50 THEN n_chars END) AS p50,
        |  min(CASE WHEN cum * 100 >= total * 75 THEN n_chars END) AS p75,
        |  min(CASE WHEN cum * 100 >= total * 95 THEN n_chars END) AS p95
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,

    "qx57_threshold_sweep" -> (ShingleCte +
      s""",
        |d AS (SELECT doc_id,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh),
        |inv AS (SELECT doc_id, unnest(shd) AS s FROM d),
        |small AS (
        |  SELECT doc_id, s FROM inv
        |  WHERE s NOT IN (SELECT s FROM inv GROUP BY s
        |                  HAVING count(*) > ${JaccardGramCap})),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(count(*) AS DOUBLE) AS ni
        |  FROM small a JOIN small b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, CAST(len(shd) AS DOUBLE) AS n FROM d),
        |ji AS (
        |  SELECT c.d1, c.d2, c.ni / (x.n + y.n - c.ni) AS ji
        |  FROM common c
        |  JOIN sizes x ON x.doc_id = c.d1
        |  JOIN sizes y ON y.doc_id = c.d2)
        |SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT d2) AS BIGINT) AS n_docs_removable
        |FROM ji, unnest([0.5E0, 0.6E0, 0.7E0, 0.8E0]) AS t(threshold)
        |WHERE ji >= threshold
        |GROUP BY threshold
        |ORDER BY threshold""".stripMargin),

    "qx58_packing_waste" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (
        |  SELECT ctx_len, n,
        |         least(n, ctx_len) AS kept,
        |         CASE WHEN n < ctx_len THEN ctx_len - n ELSE 0 END AS pad,
        |         CASE WHEN n > ctx_len THEN n - ctx_len ELSE 0 END
        |           AS trunc
        |  FROM d, unnest([CAST(512 AS BIGINT), CAST(1024 AS BIGINT),
        |                  CAST(2048 AS BIGINT)]) AS t(ctx_len))
        |SELECT ctx_len, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS total_toks,
        |       CAST(sum(kept) AS BIGINT) AS kept_toks,
        |       CAST(sum(pad) AS BIGINT) AS pad_toks,
        |       CAST(sum(trunc) AS BIGINT) AS trunc_toks,
        |       CAST(sum(pad) AS DOUBLE) /
        |         CAST(sum(kept) + sum(pad) AS DOUBLE) AS pad_frac
        |FROM x GROUP BY ctx_len ORDER BY ctx_len""".stripMargin,

    "qe18_anisotropy" -> {
      val dot = CosSql.format("embedding", "embedding")
      s"""WITH nr AS (
        |  SELECT vec_id, sqrt($dot) AS nrm, embedding
        |  FROM embeddings),
        |comp AS (
        |  SELECT vec_id, nrm,
        |         generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding) AS v
        |  FROM nr),
        |d AS (
        |  SELECT pos, CAST(v AS DOUBLE) / nrm AS vhat FROM comp),
        |sums AS (
        |  SELECT pos,
        |         CAST(sum(CAST(floor(vhat * 1000000000E0) AS BIGINT))
        |           AS BIGINT) AS s_nn
        |  FROM d GROUP BY pos),
        |s2 AS (
        |  SELECT list_reduce(list_prepend(0.0E0,
        |    list((CAST(s_nn AS DOUBLE) / 1000000000E0)
        |         * (CAST(s_nn AS DOUBLE) / 1000000000E0) ORDER BY pos)),
        |    (a, x) -> a + x) AS s2
        |  FROM sums),
        |ns AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(sum(CAST(floor(nrm * 1000000000E0) AS BIGINT))
        |           AS BIGINT) AS norm_nn
        |  FROM nr
        |  HAVING count(*) > 0)
        |SELECT ns.n_vecs,
        |       CAST(ns.norm_nn AS DOUBLE) / CAST(ns.n_vecs AS DOUBLE)
        |         / 1000000000E0 AS mean_norm,
        |       (s2.s2 - CAST(ns.n_vecs AS DOUBLE))
        |         / (CAST(ns.n_vecs AS DOUBLE)
        |            * (CAST(ns.n_vecs AS DOUBLE) - 1.0E0))
        |         AS mean_pairwise_cos
        |FROM ns CROSS JOIN s2""".stripMargin
    },

    "qz10_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |p AS (
        |  SELECT substr(t, CAST(i AS INTEGER), 2) AS pair
        |  FROM (SELECT t, unnest(range(1, length(t))) AS i
        |        FROM tok WHERE length(t) >= 2)),
        |c AS (
        |  SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p GROUP BY pair),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
        |           AS BIGINT) AS rank, pair, cnt
        |  FROM c)
        |SELECT rank, pair, cnt FROM r WHERE rank <= 30
        |ORDER BY rank""".stripMargin,

    // SQ8 bounds recomputed in-twin (exact min/max — the qe10 rule);
    // dequant expression parenthesized EXACTLY as the Spark plan's
    "qe20_quant_error" -> {
      def fold(expr: String) =
        s"""list_reduce(list_prepend(0.0E0, list_transform(
           | list_zip(embedding, dv), p -> $expr)), (x, y) -> x + y)"""
          .stripMargin.replaceAll("\n", "")
      s"""WITH comp AS (
        |  SELECT generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |bd AS (
        |  SELECT pos, min(CAST(v AS DOUBLE)) AS mn,
        |         max(CAST(v AS DOUBLE)) AS mx
        |  FROM comp GROUP BY pos),
        |br AS (
        |  SELECT list(mn ORDER BY pos) AS mns,
        |         list(mx ORDER BY pos) AS hxs
        |  FROM bd),
        |per AS (
        |  SELECT e.label, len(e.embedding) AS dim, e.embedding,
        |         list_transform(range(1, len(e.embedding) + 1),
        |           i -> CASE WHEN br.hxs[i] > br.mns[i]
        |                THEN br.mns[i] +
        |                  CAST(floor((CAST(e.embedding[i] AS DOUBLE)
        |                      - br.mns[i]) / (br.hxs[i] - br.mns[i])
        |                      * 255.0E0 + 0.5E0) AS DOUBLE)
        |                  * ((br.hxs[i] - br.mns[i]) / 255.0E0)
        |                ELSE br.mns[i] END) AS dv
        |  FROM embeddings e CROSS JOIN br),
        |f AS (
        |  SELECT label,
        |    ${fold("(CAST(p[1] AS DOUBLE) - p[2]) * " +
                    "(CAST(p[1] AS DOUBLE) - p[2])")} AS err2,
        |    ${fold("CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)")}
        |      AS dxd,
        |    ${CosSql.format("embedding", "embedding")} AS dxx,
        |    ${fold("CAST(p[2] AS DOUBLE) * CAST(p[2] AS DOUBLE)")}
        |      AS ddd,
        |    dim
        |  FROM per),
        |g AS (
        |  SELECT label,
        |    CAST(floor(err2 / dim * 1000000000E0) AS BIGINT) AS mse_nn,
        |    CAST(floor(dxd / (sqrt(dxx) * sqrt(ddd)) * 1000000000E0)
        |      AS BIGINT) AS cos_nn
        |  FROM f)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(mse_nn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000000E0 AS mean_mse,
        |  CAST(max(mse_nn) AS DOUBLE) / 1000000000E0 AS max_mse,
        |  CAST(sum(cos_nn) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    / 1000000000E0 AS mean_cos_recon
        |FROM g GROUP BY label ORDER BY label""".stripMargin
    },

    "qe21_centroid_drift" ->
      """WITH comp AS (
        |  SELECT label, vec_id % 2 AS half,
        |         generate_subscripts(embedding, 1) AS pos,
        |         unnest(embedding) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT label, half, pos,
        |         CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000000E0)
        |             AS BIGINT)) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) / 1000000000E0 AS m
        |  FROM comp GROUP BY label, half, pos),
        |j AS (
        |  SELECT a.label, a.pos, a.m AS m0, b.m AS m1
        |  FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
        |  WHERE a.half = 0 AND b.half = 1),
        |g AS (
        |  SELECT label,
        |    list_reduce(list_prepend(0.0E0,
        |      list((m0 - m1) * (m0 - m1) ORDER BY pos)),
        |      (x, y) -> x + y) AS d2,
        |    list_reduce(list_prepend(0.0E0,
        |      list(m0 * m1 ORDER BY pos)), (x, y) -> x + y) AS dt,
        |    list_reduce(list_prepend(0.0E0,
        |      list(m0 * m0 ORDER BY pos)), (x, y) -> x + y) AS s0,
        |    list_reduce(list_prepend(0.0E0,
        |      list(m1 * m1 ORDER BY pos)), (x, y) -> x + y) AS s1
        |  FROM j GROUP BY label),
        |c AS (
        |  SELECT label,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1
        |  FROM embeddings GROUP BY label)
        |SELECT g.label, c.n0, c.n1, sqrt(g.d2) AS l2_drift,
        |       g.dt / (sqrt(g.s0) * sqrt(g.s1)) AS cos_drift
        |FROM g JOIN c USING (label) ORDER BY label""".stripMargin,

    "qz11_shard_plan" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |         CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_bytes,
        |         sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d),
        |s AS (
        |  SELECT source, CAST((cum - n_bytes) // 65536 AS BIGINT)
        |           AS shard, doc_id, n_bytes
        |  FROM c)
        |SELECT source, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_bytes) AS BIGINT) AS bytes,
        |       min(doc_id) AS doc_lo, max(doc_id) AS doc_hi,
        |       CAST(sum(n_bytes) AS DOUBLE) / 65536.0E0 AS fill
        |FROM s GROUP BY source, shard
        |ORDER BY source, shard""".stripMargin,

    "qx64_rep_ngram_frac" -> (ShingleCte +
      """
        |SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams,
        |       CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
        |       CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
        |         / CAST(len(s) AS DOUBLE) AS rep_frac,
        |       (CAST(len(s) - len(list_distinct(s)) AS DOUBLE)
        |         / CAST(len(s) AS DOUBLE)) > 0.15E0 AS flagged
        |FROM sh ORDER BY doc_id""".stripMargin),

    "qx61_simhash_pairs" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, p,
        |         CASE WHEN 2 * sum(CASE WHEN strpos('89abcdef',
        |                substr(md5(t), CAST(p AS INTEGER), 1)) > 0
        |              THEN 1 ELSE 0 END) >= count(*)
        |              THEN '1' ELSE '0' END AS b
        |  FROM tok, range(1, 33) AS r(p)
        |  GROUP BY doc_id, p),
        |shs AS (
        |  SELECT doc_id, string_agg(b, '' ORDER BY p) AS sh
        |  FROM bits GROUP BY doc_id),
        |bnd AS (
        |  SELECT doc_id, '0:' || substr(sh, 1, 8) AS band FROM shs
        |  UNION ALL SELECT doc_id, '1:' || substr(sh, 9, 8) FROM shs
        |  UNION ALL SELECT doc_id, '2:' || substr(sh, 17, 8) FROM shs
        |  UNION ALL SELECT doc_id, '3:' || substr(sh, 25, 8) FROM shs),
        |small AS (
        |  SELECT doc_id, band FROM bnd
        |  WHERE band IN (SELECT band FROM bnd GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id)
        |SELECT p.d1, p.d2,
        |  CAST(list_reduce(list_transform(range(1, 33),
        |    i -> CASE WHEN substr(x.sh, CAST(i AS INT), 1)
        |              <> substr(y.sh, CAST(i AS INT), 1)
        |         THEN 1 ELSE 0 END), (a, b) -> a + b) AS BIGINT)
        |    AS hamming
        |FROM p
        |JOIN shs x ON x.doc_id = p.d1
        |JOIN shs y ON y.doc_id = p.d2
        |WHERE list_reduce(list_transform(range(1, 33),
        |    i -> CASE WHEN substr(x.sh, CAST(i AS INT), 1)
        |              <> substr(y.sh, CAST(i AS INT), 1)
        |         THEN 1 ELSE 0 END), (a, b) -> a + b) <= 3
        |ORDER BY d1, d2""".stripMargin,

    "qp2_training_mix" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |pw AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS src_tokens,
        |         sqrt(CAST(sum(n_toks) AS DOUBLE)) AS w
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS b,
        |             list_reduce(list_prepend(0.0E0,
        |               list(w ORDER BY source)), (a, x) -> a + x) AS z
        |      FROM pw),
        |rates AS (
        |  SELECT source, n_docs, src_tokens, w / z AS p,
        |         least(1.0E0, w / z * CAST(b AS DOUBLE)
        |           / CAST(src_tokens AS DOUBLE)) AS keep_rate
        |  FROM pw CROSS JOIN t),
        |coin AS (
        |  SELECT d.source, d.n_toks
        |  FROM d JOIN rates USING (source)
        |  WHERE CAST(list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(d.doc_id AS VARCHAR)), CAST(i AS INT), 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS DOUBLE) / 4294967296E0
        |    < rates.keep_rate),
        |sampled AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_sampled,
        |         CAST(sum(n_toks) AS BIGINT) AS sampled_tokens
        |  FROM coin GROUP BY source)
        |SELECT r.source, r.n_docs, r.src_tokens, r.p, r.keep_rate,
        |       coalesce(s.n_docs_sampled, CAST(0 AS BIGINT))
        |         AS n_docs_sampled,
        |       coalesce(s.sampled_tokens, CAST(0 AS BIGINT))
        |         AS sampled_tokens,
        |       (coalesce(s.sampled_tokens, CAST(0 AS BIGINT)) + 1023)
        |         // 1024 AS n_examples_1k
        |FROM rates r LEFT JOIN sampled s USING (source)
        |ORDER BY source""".stripMargin,

    "qx59_band_sweep" -> (ShingleCte + {
      val mins = (0 until 16).map(i =>
        s"list_min(list_transform(s, x -> md5('$i:' || x)))")
        .mkString("[", ",\n        |     ", "]")
      val perB = Seq(2, 4, 8).map { b =>
        val bands = (1 to b)
          .map(i => s"SELECT doc_id, mh[$i] AS band FROM sig")
          .mkString("\n        |  UNION ALL ")
        s"""bb$b AS (
        |  $bands),
        |sb$b AS (
        |  SELECT doc_id, band FROM bb$b
        |  WHERE band IN (SELECT band FROM bb$b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |pb$b AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM sb$b a JOIN sb$b c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |ab$b AS (
        |  SELECT CAST($b AS BIGINT) AS bands,
        |         CAST(count(*) AS BIGINT) AS n_cand,
        |         CAST(sum(CASE WHEN t.d1 IS NULL THEN 0 ELSE 1 END)
        |           AS BIGINT) AS n_hits
        |  FROM pb$b p LEFT JOIN truth t
        |    ON t.d1 = p.d1 AND t.d2 = p.d2
        |  HAVING count(*) > 0)"""
      }.mkString(",\n        |")
      s""",
        |sig AS (
        |  SELECT doc_id, $mins AS mh
        |  FROM sh),
        |d AS (SELECT doc_id,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh),
        |inv AS (SELECT doc_id, unnest(shd) AS s FROM d),
        |smallg AS (
        |  SELECT doc_id, s FROM inv
        |  WHERE s NOT IN (SELECT s FROM inv GROUP BY s
        |                  HAVING count(*) > ${JaccardGramCap})),
        |common AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(count(*) AS DOUBLE) AS ni
        |  FROM smallg a JOIN smallg b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, CAST(len(shd) AS DOUBLE) AS n FROM d),
        |truth AS (
        |  SELECT c.d1, c.d2
        |  FROM common c
        |  JOIN sizes x ON x.doc_id = c.d1
        |  JOIN sizes y ON y.doc_id = c.d2
        |  WHERE c.ni / (x.n + y.n - c.ni) >= 0.5),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        |$perB
        |SELECT u.bands, u.n_cand, u.n_hits, nt.n_truth,
        |       CAST(u.n_hits AS DOUBLE) / CAST(u.n_cand AS DOUBLE)
        |         AS precision,
        |       CASE WHEN nt.n_truth > 0
        |            THEN CAST(u.n_hits AS DOUBLE)
        |                 / CAST(nt.n_truth AS DOUBLE)
        |       END AS recall
        |FROM (SELECT * FROM ab2 UNION ALL SELECT * FROM ab4
        |      UNION ALL SELECT * FROM ab8) u
        |CROSS JOIN nt
        |ORDER BY bands""".stripMargin
    }),

    "qx60_heaps_curve" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |u AS (
        |  SELECT doc_id, toks,
        |    CAST(list_reduce(list_transform(range(1, 9),
        |      i -> CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1))
        |        - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS DOUBLE) / 4294967296E0 * 100
        |      AS u100
        |  FROM tok),
        |pcts(pct) AS (VALUES (CAST(10 AS BIGINT)), (CAST(25 AS BIGINT)),
        |                     (CAST(50 AS BIGINT)), (CAST(100 AS BIGINT))),
        |perdoc AS (
        |  SELECT pct, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(toks)) AS BIGINT) AS n_toks
        |  FROM u JOIN pcts ON u.u100 < pcts.pct
        |  GROUP BY pct),
        |typesrc AS (
        |  SELECT pct, term FROM pcts
        |  JOIN (SELECT u100, unnest(toks) AS term FROM u) x
        |    ON x.u100 < pcts.pct),
        |types AS (
        |  SELECT pct, CAST(count(DISTINCT term) AS BIGINT) AS vocab
        |  FROM typesrc GROUP BY pct),
        |gsrc AS (
        |  SELECT pct, g FROM pcts
        |  JOIN (SELECT u.u100, unnest(list_distinct(list_transform(sh.s,
        |          g -> list_reduce(list_transform(range(1, 16),
        |            i -> CAST(strpos('0123456789abcdef',
        |              substr(md5(g), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |            (a, b) -> a * 16 + b)))) AS g
        |        FROM u JOIN (
        |          SELECT doc_id,
        |                 list_transform(range(len(toks) - 2),
        |                   i -> toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                        toks[i+3]) AS s
        |          FROM tok) sh ON sh.doc_id = u.doc_id) y
        |    ON y.u100 < pcts.pct),
        |grams AS (
        |  SELECT pct, CAST(count(DISTINCT g) AS BIGINT) AS gram_types
        |  FROM gsrc GROUP BY pct)
        |SELECT pct, n_docs, n_toks, vocab, gram_types
        |FROM perdoc JOIN types USING (pct) JOIN grams USING (pct)
        |ORDER BY pct""".stripMargin,

    "qx51_fertility" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks,
        |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |  CAST(sum(strlen(text)) AS DOUBLE) /
        |    CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
        |    AS bytes_per_tok
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    "qx53_chi2_colloc" ->
      """WITH tok AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |pairs AS (
        |  SELECT unnest(list_transform(range(len(toks) - 1),
        |    i -> [toks[i+1], toks[i+2]])) AS p
        |  FROM tok),
        |bi AS (
        |  SELECT p[1] AS x, p[2] AS y, CAST(count(*) AS BIGINT) AS a
        |  FROM pairs GROUP BY x, y),
        |cxs AS (SELECT x, CAST(sum(a) AS BIGINT) AS cx FROM bi GROUP BY x),
        |cys AS (SELECT y, CAST(sum(a) AS BIGINT) AS cy FROM bi GROUP BY y),
        |ns AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM bi),
        |j AS (
        |  SELECT x, y, a, CAST(a AS DOUBLE) AS ad,
        |         CAST(cx AS DOUBLE) AS cxd, CAST(cy AS DOUBLE) AS cyd,
        |         CAST(n AS DOUBLE) AS nd
        |  FROM bi JOIN cxs USING (x) JOIN cys USING (y) CROSS JOIN ns
        |  WHERE a >= 5),
        |k AS (
        |  SELECT x, y, a, nd, cxd, cyd,
        |         ad * (nd - cxd - cyd + ad)
        |           - (cxd - ad) * (cyd - ad) AS det
        |  FROM j)
        |SELECT x || ' ' || y AS bg, a,
        |       nd * det * det /
        |         (cxd * (nd - cxd) * cyd * (nd - cyd)) AS chi2
        |FROM k
        |ORDER BY chi2 DESC, bg
        |LIMIT 50""".stripMargin,

    "qx55_dupgraph_degree" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |deg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree
        |  FROM (SELECT d1 AS doc_id FROM p
        |        UNION ALL SELECT d2 AS doc_id FROM p) u
        |  GROUP BY doc_id)
        |SELECT coalesce(deg.degree, CAST(0 AS BIGINT)) AS degree,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d LEFT JOIN deg USING (doc_id)
        |GROUP BY 1 ORDER BY degree""".stripMargin),

    // qx55's pair staging + oriented wedge join closed by EXISTS
    "qz39_triangle_count" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |deg AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS deg
        |  FROM (SELECT d1 AS v FROM p UNION ALL SELECT d2 FROM p) u
        |  GROUP BY v),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg),
        |tr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM p e1 JOIN p e2 ON e2.d1 = e1.d2
        |  WHERE EXISTS (SELECT 1 FROM p e3
        |                WHERE e3.d1 = e1.d1 AND e3.d2 = e2.d2)),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM p)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0
        |    THEN CAST(3 * n_triangles AS DOUBLE)
        |      / CAST(n_wedges AS DOUBLE)
        |    ELSE 0.0E0 END AS transitivity
        |FROM st CROSS JOIN ne CROSS JOIN tr
        |WHERE n_edges > 0""".stripMargin),

    "qx54_sketch_error" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    ${(0 until 16).map(i =>
                s"list_min(list_transform(s, x -> md5('$i:' || x)))")
                .mkString("[", ",\n        |     ", "]")} AS mh
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, mh[1] AS band FROM sig
        |  UNION ALL SELECT doc_id, mh[2] FROM sig
        |  UNION ALL SELECT doc_id, mh[3] FROM sig
        |  UNION ALL SELECT doc_id, mh[4] FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT x.doc_id AS d1, c.doc_id AS d2
        |  FROM small x JOIN small c
        |    ON x.band = c.band AND x.doc_id < c.doc_id),
        |d AS (SELECT doc_id,
        |             list_distinct(list_transform(s,
        |               g -> list_reduce(list_transform(range(1, 16),
        |                 i -> CAST(strpos('0123456789abcdef',
        |                   substr(md5(g), CAST(i AS INT), 1)) - 1
        |                   AS BIGINT)),
        |                 (a, b) -> a * 16 + b))) AS shd FROM sh),
        |scored AS (
        |  SELECT p.d1, p.d2,
        |    CAST((${(1 to 16).map(i =>
                s"CASE WHEN sa.mh[$i] = sb.mh[$i] THEN 1 ELSE 0 END")
                .mkString(" +\n        |          ")}) AS DOUBLE) / 16.0E0
        |      AS est_ji,
        |    CAST(len(list_intersect(da.shd, db.shd)) AS DOUBLE) /
        |      (CAST(len(da.shd) + len(db.shd) AS DOUBLE)
        |       - len(list_intersect(da.shd, db.shd))) AS exact_ji
        |  FROM p
        |  JOIN sig sa ON sa.doc_id = p.d1
        |  JOIN sig sb ON sb.doc_id = p.d2
        |  JOIN d da ON da.doc_id = p.d1
        |  JOIN d db ON db.doc_id = p.d2)
        |SELECT d1, d2, est_ji, exact_ji, abs(est_ji - exact_ji) AS abs_err
        |FROM scored ORDER BY d1, d2""".stripMargin),

    "qx52_union_sketch" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |h AS (SELECT source, md5(t) AS h FROM tok),
        |per AS (
        |  SELECT source, list_slice(list_sort(list(DISTINCT h)), 1, 32)
        |           AS hs,
        |         CAST(count(DISTINCT h) AS BIGINT) AS exact
        |  FROM h GROUP BY source),
        |allh AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact FROM h),
        |merged AS (
        |  SELECT list_slice(list_sort(list_distinct(flatten(list(hs)))),
        |           1, 32) AS hs
        |  FROM per),
        |perout AS (
        |  SELECT source,
        |    CASE WHEN len(hs) < 32 THEN CAST(len(hs) AS DOUBLE)
        |      ELSE 31.0E0 * 4503599627370496.0E0 / CAST(list_reduce(
        |        list_transform(range(1, 14),
        |          i -> CAST(strpos('0123456789abcdef',
        |            substr(hs[32], CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b) AS DOUBLE)
        |    END AS kmv_est, exact
        |  FROM per),
        |uout AS (
        |  SELECT '__union__' AS source,
        |    CASE WHEN len(m.hs) < 32 THEN CAST(len(m.hs) AS DOUBLE)
        |      ELSE 31.0E0 * 4503599627370496.0E0 / CAST(list_reduce(
        |        list_transform(range(1, 14),
        |          i -> CAST(strpos('0123456789abcdef',
        |            substr(m.hs[32], CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b) AS DOUBLE)
        |    END AS kmv_est, allh.exact
        |  FROM merged m CROSS JOIN allh)
        |SELECT source, kmv_est, exact FROM perout
        |UNION ALL SELECT source, kmv_est, exact FROM uout
        |ORDER BY source""".stripMargin,

    // byte-exact twin: hex(encode(text)) is 2 chars per BYTE, so the
    // char-based substr over the hex string slices exact byte ranges no
    // matter how many bytes each character of `text` occupies, and
    // strlen (BYTE length) drives the frame count — no ASCII assumption
    "qm4_frame_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    substr(hex(encode(text)), CAST(i*128 + 1 AS INT), 32)
        |      AS frame_hex
        |  FROM documents,
        |       unnest(range(greatest(strlen(text) // 64, 1))) AS t(i))
        |SELECT frame_hex, CAST(count(*) AS BIGINT) AS n_occ,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       min(doc_id) AS keeper
        |FROM f GROUP BY frame_hex
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY frame_hex""".stripMargin,

    "qx56_ks_drift" ->
      """WITH h AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, n_chars),
        |g AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS ca
        |  FROM documents GROUP BY n_chars),
        |gc AS (
        |  SELECT n_chars,
        |         CAST(sum(ca) OVER (ORDER BY n_chars
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
        |  FROM g),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
        |       FROM documents GROUP BY source),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS na FROM documents),
        |grid AS (
        |  SELECT ns.source, ns.ns, gc.n_chars, gc.cum_all,
        |         coalesce(h.c, 0) AS c
        |  FROM ns CROSS JOIN gc
        |  LEFT JOIN h ON h.source = ns.source AND h.n_chars = gc.n_chars),
        |cum AS (
        |  SELECT source, ns, cum_all,
        |         CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_src
        |  FROM grid)
        |SELECT source, ns AS n_docs,
        |       max(abs(CAST(cum_src AS DOUBLE) / CAST(ns AS DOUBLE)
        |         - CAST(cum_all AS DOUBLE) / CAST(na.na AS DOUBLE))) AS ks
        |FROM cum CROSS JOIN na
        |GROUP BY source, ns
        |ORDER BY source""".stripMargin,

    // qc1's roundtrip-identity oracle: the Spark side emits a row per
    // user ONLY when the native codec chain is byte-stable
    // (encode∘decode∘encode == encode) and the print leg produced
    // bytes; the surviving rows' facts — instant count (the assembly's
    // per-(user, ts) dedup) and first-instant micros — are recomputed
    // here relationally, so any codec regression drops rows and fails
    // the row/hash compare
    "qc1_codec_roundtrip" ->
      """SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n,
        |       min(epoch_us(ts)) AS t0_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // committed goldens for the qc2 codec gate (regenerate via Verify
    // after an INTENDED wire/print-format change — see CodecGoldenCases)
    "qc2_codec_golden" ->
      """SELECT CAST(case_id AS BIGINT) AS case_id, hexwkb, wkt, mfjson
        |FROM (VALUES
        |  (1, '01280001000000000000F03F000000000000F03F0000000000000000',
        |   'POINT(1 1)@2000-01-01 00:00:00+00',
        |   '{"type":"MovingGeomPoint","bbox":[[1,1],[1,1]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-01T00:00:00+00"},"coordinates":[[1,1]],"datetimes":["2000-01-01T00:00:00+00"],"interpolation":"None"}'),
        |  (2, '01280041E6100000000000000000F03F000000000000F03F0000000000000000',
        |   'SRID=4326;POINT(1 1)@2000-01-01 00:00:00+00',
        |   '{"type":"MovingGeomPoint","crs":{"type":"Name","properties":{"name":"EPSG:4326"}},"bbox":[[1,1],[1,1]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-01T00:00:00+00"},"coordinates":[[1,1]],"datetimes":["2000-01-01T00:00:00+00"],"interpolation":"None"}'),
        |  (3, '0128000E0200000003000000000000F03F000000000000F03F0000000000000000000000000000004000000000000000400060D71D14000000',
        |   '[POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00]',
        |   '{"type":"MovingGeomPoint","bbox":[[1,1],[2,2]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-02T00:00:00+00"},"coordinates":[[1,1],[2,2]],"datetimes":["2000-01-01T00:00:00+00","2000-01-02T00:00:00+00"],"lower_inc":true,"upper_inc":true,"interpolation":"Linear"}'),
        |  (4, '012800060200000003000000000000F03F000000000000F03F0000000000000000000000000000004000000000000000400060D71D14000000',
        |   '{POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00}',
        |   '{"type":"MovingGeomPoint","bbox":[[1,1],[2,2]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-02T00:00:00+00"},"coordinates":[[1,1],[2,2]],"datetimes":["2000-01-01T00:00:00+00","2000-01-02T00:00:00+00"],"interpolation":"Discrete"}'),
        |  (5, '0128000A0200000003000000000000F03F000000000000F03F0000000000000000000000000000004000000000000000400060D71D14000000',
        |   'Interp=Step;[POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00]',
        |   '{"type":"MovingGeomPoint","bbox":[[1,1],[2,2]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-02T00:00:00+00"},"coordinates":[[1,1],[2,2]],"datetimes":["2000-01-01T00:00:00+00","2000-01-02T00:00:00+00"],"lower_inc":true,"upper_inc":true,"interpolation":"Step"}'),
        |  (6, '0128000E0200000001000000000000F03F000000000000F03F0000000000000000000000000000004000000000000000400060D71D14000000',
        |   '[POINT(1 1)@2000-01-01 00:00:00+00, POINT(2 2)@2000-01-02 00:00:00+00)',
        |   '{"type":"MovingGeomPoint","bbox":[[1,1],[2,2]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-02T00:00:00+00"},"coordinates":[[1,1],[2,2]],"datetimes":["2000-01-01T00:00:00+00","2000-01-02T00:00:00+00"],"lower_inc":true,"upper_inc":false,"interpolation":"Linear"}'),
        |  (7, '01280011000000000000F03F000000000000004000000000000008400000000000000000',
        |   'POINT Z (1 2 3)@2000-01-01 00:00:00+00',
        |   '{"type":"MovingGeomPoint","bbox":[[1,2],[1,2]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-01T00:00:00+00"},"coordinates":[[1,2,3]],"datetimes":["2000-01-01T00:00:00+00"],"interpolation":"None"}'),
        |  (8, '0128001E0200000003000000000000000000000000000000000000000000000000000000000000000000000000000024400000000000002440000000000000244000C0AE3B28000000',
        |   '[POINT Z (0 0 0)@2000-01-01 00:00:00+00, POINT Z (10 10 10)@2000-01-03 00:00:00+00]',
        |   '{"type":"MovingGeomPoint","bbox":[[0,0],[10,10]],"period":{"begin":"2000-01-01T00:00:00+00","end":"2000-01-03T00:00:00+00"},"coordinates":[[0,0,0],[10,10,10]],"datetimes":["2000-01-01T00:00:00+00","2000-01-03T00:00:00+00"],"lower_inc":true,"upper_inc":true,"interpolation":"Linear"}'),
        |  (9, '01280041E6100000A4703D0AD78356C03333333333F33D400040E9D4D5B00200',
        |   'SRID=4326;POINT(-90.06 29.95)@2024-01-01 00:00:00+00',
        |   '{"type":"MovingGeomPoint","crs":{"type":"Name","properties":{"name":"EPSG:4326"}},"bbox":[[-90.06,29.95],[-90.06,29.95]],"period":{"begin":"2024-01-01T00:00:00+00","end":"2024-01-01T00:00:00+00"},"coordinates":[[-90.06,29.95]],"datetimes":["2024-01-01T00:00:00+00"],"interpolation":"None"}'),
        |  (10, '0128000E0200000003000000000000E0BF000000000000D03F00806567AA420200000000000000094000000000000006C040072102C9420200',
        |   '[POINT(-0.5 0.25)@2020-02-29 00:00:00+00, POINT(3.125 -2.75)@2020-03-01 12:30:45+00]',
        |   '{"type":"MovingGeomPoint","bbox":[[-0.5,-2.75],[3.125,0.25]],"period":{"begin":"2020-02-29T00:00:00+00","end":"2020-03-01T12:30:45+00"},"coordinates":[[-0.5,0.25],[3.125,-2.75]],"datetimes":["2020-02-29T00:00:00+00","2020-03-01T12:30:45+00"],"lower_inc":true,"upper_inc":true,"interpolation":"Linear"}'))
        |  AS t(case_id, hexwkb, wkt, mfjson)
        |ORDER BY case_id""".stripMargin,

    "qz2_prefix_groups" ->
      """SELECT md5(substr(text, 1, 64)) AS prefix_md5,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS keeper,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY substr(text, 1, 64)
        |HAVING count(*) >= 2
        |ORDER BY prefix_md5""".stripMargin,

    // only set SIZES feed the math, so list_distinct/list_intersect
    // element order (which differs from Spark's array_distinct) is
    // irrelevant; the ji expression repeats in the WHERE because the
    // filter must bind the same double math that is emitted
    "qz3_sorted_neighbors" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    list_distinct(string_split(text, ' ')) AS ts,
        |    substr(text, 1, 8) AS blk
        |  FROM documents),
        |adj AS (
        |  SELECT doc_id AS d1, lead(doc_id) OVER w AS d2,
        |    ts AS ts1, lead(ts) OVER w AS ts2
        |  FROM d WINDOW w AS (PARTITION BY blk ORDER BY text, doc_id)),
        |p AS (
        |  SELECT d1, d2,
        |    CAST(len(list_intersect(ts1, ts2)) AS DOUBLE) /
        |      CAST(len(ts1) + len(ts2) - len(list_intersect(ts1, ts2))
        |        AS DOUBLE) AS ji
        |  FROM adj WHERE d2 IS NOT NULL)
        |SELECT d1, d2, ji FROM p WHERE ji >= 0.5
        |ORDER BY d1, d2""".stripMargin,

    "qz4_source_lang_mi" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang),
        |ms AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
        |       FROM cells GROUP BY source),
        |ml AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl
        |       FROM cells GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
        |SELECT source, lang, n,
        |  CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS p,
        |  round(ln((CAST(n AS DOUBLE) * CAST(nt AS DOUBLE)) /
        |     (CAST(ns AS DOUBLE) * CAST(nl AS DOUBLE))), 9) AS pmi
        |FROM cells JOIN ms USING (source) JOIN ml USING (lang)
        |CROSS JOIN tot
        |ORDER BY source, lang""".stripMargin,

    "qz5_length_outliers" ->
      """WITH docs AS (SELECT source, n_chars FROM documents),
        |hist AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |         FROM docs GROUP BY source, n_chars),
        |cum AS (
        |  SELECT source, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS total
        |  FROM hist),
        |med AS (SELECT source,
        |          min(CASE WHEN cum * 2 >= total THEN n_chars END) AS med
        |        FROM cum GROUP BY source),
        |dev AS (SELECT d.source, abs(d.n_chars - m.med) AS dev
        |        FROM docs d JOIN med m USING (source)),
        |dhist AS (SELECT source, dev, CAST(count(*) AS BIGINT) AS c
        |          FROM dev GROUP BY source, dev),
        |dcum AS (
        |  SELECT source, dev,
        |    sum(c) OVER (PARTITION BY source ORDER BY dev
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS total
        |  FROM dhist),
        |mad AS (SELECT source,
        |          min(CASE WHEN cum * 2 >= total THEN dev END) AS mad
        |        FROM dcum GROUP BY source)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  m.med, a.mad,
        |  CAST(sum(CASE WHEN abs(d.n_chars - m.med) > a.mad * 3
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(sum(CASE WHEN abs(d.n_chars - m.med) > a.mad * 3
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS outlier_frac
        |FROM docs d JOIN med m USING (source) JOIN mad a USING (source)
        |GROUP BY d.source, m.med, a.mad
        |ORDER BY source""".stripMargin,

    "qx62_line_dedup" ->
      """WITH staged AS (
        |  SELECT doc_id,
        |    'subscribe to our newsletter - ' || source || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'limited time offer'
        |         ELSE 'ref ' || CAST(doc_id AS VARCHAR) END || chr(10) ||
        |    text || chr(10) ||
        |    'copyright footer ' || CAST(doc_id % 13 AS VARCHAR) AS txt
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) AS pos,
        |         unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(txt, chr(10)) AS ls
        |        FROM staged)),
        |hot AS (
        |  SELECT md5(trim(line)) AS k FROM l WHERE trim(line) <> ''
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.line, (h.k IS NULL) AS keep
        |  FROM l LEFT JOIN hot h
        |    ON trim(l.line) <> '' AND md5(trim(l.line)) = h.k)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  md5(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep)) AS out_fp
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "qx63_pii_scrub" ->
      """WITH staged AS (
        |  SELECT doc_id, text || ' contact ' || source ||
        |    '@example.com see http://' || source || '.example.com/p/' ||
        |    CAST(doc_id AS VARCHAR) || ' session ' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 21, 12) ||
        |    ' order #' || CAST(doc_id * 37 AS VARCHAR) AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_email,
        |  regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t1 FROM staged),
        |s2 AS (SELECT doc_id, n_email,
        |  CAST(len(regexp_extract_all(t1, 'https?://[^\s]+'))
        |    AS BIGINT) AS n_url,
        |  regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT doc_id, n_email, n_url,
        |  CAST(len(regexp_extract_all(t2,
        |    '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-' ||
        |    '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}')) AS BIGINT) AS n_uuid,
        |  regexp_replace(t2,
        |    '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-' ||
        |    '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '<UUID>', 'g') AS t3
        |  FROM s2),
        |s4 AS (SELECT doc_id, n_email, n_url, n_uuid,
        |  CAST(len(regexp_extract_all(t3, '[0-9]{2,}')) AS BIGINT)
        |    AS n_num,
        |  regexp_replace(t3, '[0-9]{2,}', '<NUM>', 'g') AS t4 FROM s3)
        |SELECT doc_id, n_email, n_url, n_uuid, n_num, md5(t4) AS out_fp
        |FROM s4 ORDER BY doc_id""".stripMargin,

    // the qx63 staging/scrub chain (counts dropped, source/text/n_chars
    // carried through) + scrubbed-fp keeper dedup + the qz6 quality
    // score + the qz11 per-source shard cumsum, one statement
    "qp3_ingest_pipeline" ->
      """WITH staged AS (
        |  SELECT doc_id, source, n_chars, text,
        |    text || ' contact ' || source ||
        |    '@example.com see http://' || source || '.example.com/p/' ||
        |    CAST(doc_id AS VARCHAR) || ' session ' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 21, 12) ||
        |    ' order #' || CAST(doc_id * 37 AS VARCHAR) AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id, source, n_chars, text,
        |  regexp_replace(t0,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t1 FROM staged),
        |s2 AS (SELECT doc_id, source, n_chars, text,
        |  regexp_replace(t1, 'https?://[^\s]+', '<URL>', 'g') AS t2
        |  FROM s1),
        |s3 AS (SELECT doc_id, source, n_chars, text,
        |  regexp_replace(t2,
        |    '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-' ||
        |    '[0-9a-fA-F]{4}-[0-9a-fA-F]{12}', '<UUID>', 'g') AS t3
        |  FROM s2),
        |s4 AS (SELECT doc_id, source, n_chars, text,
        |  regexp_replace(t3, '[0-9]{2,}', '<NUM>', 'g') AS t4 FROM s3),
        |f AS (SELECT doc_id, source, n_chars, text, t4, md5(t4) AS fp
        |      FROM s4),
        |k AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY fp),
        |sc AS (
        |  SELECT doc_id,
        |    (CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x)))
        |        + len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x)))
        |        + len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x)))
        |        + len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x)))
        |        + len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x)))
        |      AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 100.0
        |    + CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE)
        |    + CAST(n_chars AS DOUBLE) / 1000.0 AS score
        |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        |        FROM documents)),
        |jq AS (
        |  SELECT f.doc_id, f.source, f.t4,
        |         (f.doc_id = k.keeper) AS kept,
        |         ((f.doc_id = k.keeper) AND sc.score >= 10.0E0) AS q_ok
        |  FROM f JOIN k USING (fp) JOIN sc USING (doc_id)),
        |cumt AS (
        |  SELECT source, doc_id, CAST(strlen(t4) AS BIGINT) AS nb,
        |         sum(CAST(strlen(t4) AS BIGINT)) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM jq WHERE q_ok),
        |shd AS (
        |  SELECT source, CAST(max((cum - nb) // 65536) + 1 AS BIGINT)
        |           AS n_shards,
        |         CAST(sum(nb) AS BIGINT) AS bytes_out
        |  FROM cumt GROUP BY source),
        |agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_raw,
        |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dedup,
        |    CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_quality
        |  FROM jq GROUP BY source)
        |SELECT a.source, a.n_raw, a.n_dedup, a.n_quality,
        |  coalesce(shd.bytes_out, 0) AS bytes_out,
        |  coalesce(shd.n_shards, 0) AS n_shards
        |FROM agg a LEFT JOIN shd USING (source)
        |ORDER BY a.source""".stripMargin,

    "qx66_burstiness" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tc AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY doc_id, t),
        |st AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS df,
        |         CAST(sum(c) AS BIGINT) AS total,
        |         CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM tc GROUP BY t HAVING count(*) >= 5),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |v AS (
        |  SELECT t, df, total,
        |    (CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE)
        |     - (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE))
        |       * (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)))
        |    / (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)) AS vmr
        |  FROM st CROSS JOIN nd),
        |r AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vmr DESC, t)
        |           AS BIGINT) AS rank,
        |         t AS term, df, total, vmr
        |  FROM v)
        |SELECT rank, term, df, total, vmr FROM r WHERE rank <= 30
        |ORDER BY rank""".stripMargin,

    // bits from the SAME seed-42 plane matrix as qe2/qe5's band twins;
    // prefix hamming in integer folds, tau from exact integer counts
    "qz13_rhp_fidelity" -> {
      def ham(b: Int) =
        "list_reduce(list_prepend(0, list_transform(range(1, " +
          s"${b + 1}), ii -> abs(b1[ii] - b2[ii]))), (aa, bb) -> aa + bb)"
      s"""WITH g AS (
        |  SELECT vec_id, embedding,
        |${rhpBitsSql(64, 64)} AS bits
        |  FROM embeddings WHERE vec_id < 20),
        |pr AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |    ${CosSql.format("a.embedding", "b.embedding")} /
        |    (sqrt(${CosSql.format("a.embedding", "a.embedding")}) *
        |     sqrt(${CosSql.format("b.embedding", "b.embedding")}))
        |      AS cos,
        |    a.bits AS b1, b.bits AS b2
        |  FROM g a JOIN g b ON a.vec_id < b.vec_id),
        |ph AS (
        |  SELECT i, j, cos, ${ham(16)} AS h16, ${ham(32)} AS h32,
        |         ${ham(64)} AS h64
        |  FROM pr),
        |lv AS (
        |  SELECT i, j, cos, CAST(16 AS BIGINT) AS nbits, h16 AS h FROM ph
        |  UNION ALL SELECT i, j, cos, 32, h32 FROM ph
        |  UNION ALL SELECT i, j, cos, 64, h64 FROM ph),
        |pp AS (
        |  SELECT l.nbits,
        |    CASE WHEN (l.h < r.h AND l.cos > r.cos)
        |           OR (l.h > r.h AND l.cos < r.cos) THEN 1 ELSE 0 END
        |      AS conc,
        |    CASE WHEN (l.h < r.h AND l.cos < r.cos)
        |           OR (l.h > r.h AND l.cos > r.cos) THEN 1 ELSE 0 END
        |      AS disc
        |  FROM lv l JOIN lv r ON l.nbits = r.nbits
        |    AND (l.i < r.i OR (l.i = r.i AND l.j < r.j)))
        |SELECT nbits, CAST(count(*) AS BIGINT) AS n_cmp,
        |  CAST(sum(conc) AS BIGINT) AS n_conc,
        |  CAST(sum(disc) AS BIGINT) AS n_disc,
        |  CAST(sum(conc) - sum(disc) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS tau_a
        |FROM pp GROUP BY nbits ORDER BY nbits""".stripMargin
    },

    "qe22_hard_negatives" ->
      s"""WITH q AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |  FROM embeddings WHERE vec_id < 20),
        |c AS (
        |  SELECT vec_id AS n_id, embedding AS n_emb, label AS n_label
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.q_id, c.n_id, c.n_label,
        |    ${CosSql.format("q_emb", "n_emb")} /
        |    (sqrt(${CosSql.format("q_emb", "q_emb")}) *
        |     sqrt(${CosSql.format("n_emb", "n_emb")})) AS cos
        |  FROM c CROSS JOIN q
        |  WHERE q.q_id <> c.n_id AND c.n_label <> q.q_label)
        |SELECT q_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       n_id, n_label, cos
        |FROM scored
        |WINDOW w AS (PARTITION BY q_id ORDER BY cos DESC, n_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY q_id, rank""".stripMargin,

    "qx67_span_mask_plan" ->
      """WITH t AS (
        |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
        |         unnest(toks) AS tk
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |s AS (
        |  SELECT doc_id, pos,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(pos // 3 AS VARCHAR)), 1, 8) < '26666666' AS masked
        |  FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(CASE WHEN masked AND pos % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_spans_masked,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked_toks,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mask_frac
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the qx11 cluster CTE chain + the qx7 score, finished by a
    // per-cluster (score DESC, doc_id) rank — double comparisons only
    // over score values both engines already compute bit-identically
    // (the qx7 gate)
    "qz6_best_keeper" -> (ShingleCte +
      s""",
        |fpt AS (
        |  SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
        |  FROM tok WHERE len(toks) >= 3),
        |rep AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY fp),
        |docrep AS (
        |  SELECT f.doc_id, r.rep FROM fpt f JOIN rep r USING (fp)),
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh WHERE doc_id IN (SELECT rep FROM rep)),
        |bnd AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM bnd
        |  WHERE band IN (SELECT band FROM bnd GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |e AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM e UNION SELECT d2 FROM e) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = e.d1 THEN e.d2 ELSE e.d1 END, r.label
        |  FROM reach r JOIN e ON r.node = e.d1 OR r.node = e.d2),
        |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |expand AS (
        |  SELECT dr.doc_id, coalesce(cc.cluster, dr.rep) AS cluster
        |  FROM docrep dr LEFT JOIN cc ON dr.rep = cc.node),
        |clus AS (
        |  SELECT d.doc_id, coalesce(x.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN expand x ON d.doc_id = x.doc_id),
        |qs AS (
        |  SELECT doc_id,
        |    (CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x)))
        |        + len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x)))
        |        + len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x)))
        |        + len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x)))
        |        + len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x)))
        |      AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 100.0
        |    + CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE)
        |    + CAST(n_chars AS DOUBLE) / 1000.0 AS score
        |  FROM tok)
        |SELECT c.doc_id, c.cluster, q.score,
        |  (row_number() OVER (PARTITION BY c.cluster
        |     ORDER BY q.score DESC, c.doc_id)) = 1 AS kept
        |FROM clus c JOIN qs q USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin).replace("WITH tok AS",
      "WITH RECURSIVE tok AS"),

    // qx11's cluster chain ⊕ qx61's simhash-pair chain (CTEs prefixed
    // s-) merged into one statement; the two flags and the agreement
    // bit close it out
    "qz7_dedup_agreement" -> ((ShingleCte + ClusterChainCte +
      DupFlagsCte +
      """
        |SELECT m.doc_id, m.mh_dup,
        |  (shd.d IS NOT NULL) AS sh_dup,
        |  m.mh_dup = (shd.d IS NOT NULL) AS agree
        |FROM mhf m LEFT JOIN shd ON m.doc_id = shd.d
        |ORDER BY m.doc_id""".stripMargin).replace("WITH tok AS",
      "WITH RECURSIVE tok AS")),

    // qz7's per-doc flag staging (cluster chain + simhash chain) with
    // the 2×2 confusion collapsed into Cohen's κ — counts in BIGINT,
    // po/pe/κ as the same three divisions the Spark leg states
    "qz15_kappa" -> ((ShingleCte + ClusterChainCte + DupFlagsCte +
      """,
        |f AS (
        |  SELECT m.mh_dup AS mh, (shd.d IS NOT NULL) AS sh
        |  FROM mhf m LEFT JOIN shd ON m.doc_id = shd.d),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN mh AND sh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN mh AND NOT sh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT mh AND sh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT mh AND NOT sh THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n00
        |  FROM f),
        |k0 AS (SELECT n11, n10, n01, n00,
        |         n11 + n10 + n01 + n00 AS n FROM c),
        |k AS (
        |  SELECT n11, n10, n01, n00,
        |    CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |    CAST((n11 + n10) * (n11 + n01) +
        |         (n01 + n00) * (n10 + n00) AS DOUBLE)
        |      / CAST(n * n AS DOUBLE) AS pe
        |  FROM k0)
        |SELECT n11, n10, n01, n00, po, pe,
        |  CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
        |FROM k WHERE n11 IS NOT NULL""".stripMargin).replace(
      "WITH tok AS", "WITH RECURSIVE tok AS")),

    // the qx11 cluster chain at CLUSTER grain: size, source/lang
    // spread, majority-source share over multi-doc clusters
    "qz14_cluster_purity" -> ((ShingleCte + ClusterChainCte +
      """,
        |j AS (
        |  SELECT c.cluster, d.source, d.lang
        |  FROM clus c JOIN documents d USING (doc_id)),
        |per AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM j GROUP BY cluster),
        |ps AS (SELECT cluster, source, count(*) AS c
        |       FROM j GROUP BY cluster, source),
        |top AS (SELECT cluster, CAST(max(c) AS BIGINT) AS top_src_docs
        |        FROM ps GROUP BY cluster)
        |SELECT per.cluster, n_docs, n_sources, n_langs, top_src_docs,
        |       CAST(top_src_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |         AS top_share,
        |       n_sources > 1 AS cross_source
        |FROM per JOIN top USING (cluster)
        |WHERE n_docs >= 2
        |ORDER BY per.cluster""".stripMargin).replace("WITH tok AS",
      "WITH RECURSIVE tok AS")),

    // regexp counts over code points — same Java∩RE2 patterns as the
    // Spark projection; empty docs guard the fraction to 0
    "qx65_encoding_audit" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\x{FFFD}'))
        |      AS BIGINT) AS n_repl,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_ctrl,
        |    CAST(len(regexp_extract_all(text, '[^\x00-\x7F]'))
        |      AS BIGINT) AS n_non_ascii,
        |    CAST(length(text) AS BIGINT) AS n_cp
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_repl, n_ctrl, n_non_ascii, n_cp,
        |    CASE WHEN n_cp > 0
        |         THEN CAST(n_non_ascii AS DOUBLE) / CAST(n_cp AS DOUBLE)
        |         ELSE 0.0 END AS non_ascii_frac
        |  FROM a)
        |SELECT doc_id, n_repl, n_ctrl, n_non_ascii, n_cp,
        |       non_ascii_frac,
        |       n_repl > 0 OR n_ctrl > 0 OR non_ascii_frac > 0.25
        |         AS flagged
        |FROM b ORDER BY doc_id""".stripMargin,

    // three conditional mins chained on strict event-time order
    "qz16_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
        |  FROM events GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > t1.v_ts
        |        THEN e.ts END) AS c_ts
        |  FROM events e JOIN t1 USING (user_id) GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > t2.c_ts
        |        THEN e.ts END) AS p_ts
        |  FROM events e JOIN t2 USING (user_id) GROUP BY e.user_id)
        |SELECT t1.user_id, v_ts, c_ts, p_ts,
        |  CAST(CASE WHEN p_ts IS NOT NULL THEN 3
        |            WHEN c_ts IS NOT NULL THEN 2
        |            WHEN v_ts IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage
        |FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)
        |ORDER BY t1.user_id""".stripMargin,

    // epoch-day div 7 weeks; distinct (cohort, offset, user) then
    // bounded-key rollups
    "qz17_retention" ->
      """WITH wk AS (
        |  SELECT user_id,
        |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
        |      AS BIGINT) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cw FROM wk GROUP BY user_id),
        |j AS (SELECT DISTINCT c.cw, w.wk - c.cw AS off, w.user_id
        |      FROM wk w JOIN cohort c USING (user_id)),
        |ret AS (SELECT cw, off, CAST(count(*) AS BIGINT) AS n_users
        |        FROM j GROUP BY cw, off),
        |base AS (SELECT cw, n_users AS cohort_size FROM ret WHERE off = 0)
        |SELECT r.cw AS cohort_week, r.off AS week_offset, r.n_users,
        |  b.cohort_size,
        |  CAST(r.n_users AS DOUBLE) / CAST(b.cohort_size AS DOUBLE)
        |    AS retention
        |FROM ret r JOIN base b USING (cw)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // three fingerprint-keyed one-row rollups (doc md5 / line md5 /
    // frame hex) unioned; identical fp ⇒ identical bytes, min(nb) exact
    "qz20_dedup_savings" ->
      """WITH d AS (
        |  SELECT md5(text) AS fp, CAST(strlen(text) AS BIGINT) AS nb
        |  FROM documents),
        |dp AS (SELECT fp, CAST(count(*) AS BIGINT) AS n, min(nb) AS nb
        |       FROM d GROUP BY fp),
        |docg AS (
        |  SELECT 'doc' AS grain, CAST(sum(n) AS BIGINT) AS n_units,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(n) - count(*) AS BIGINT) AS dup_units,
        |    CAST(sum(n * nb) AS BIGINT) AS bytes_total,
        |    CAST(sum((n - 1) * nb) AS BIGINT) AS bytes_saved
        |  FROM dp),
        |l AS (
        |  SELECT md5(line) AS fp, CAST(strlen(line) AS BIGINT) AS nb
        |  FROM (SELECT unnest(string_split(text, chr(10))) AS line
        |        FROM documents)),
        |lp AS (SELECT fp, CAST(count(*) AS BIGINT) AS n, min(nb) AS nb
        |       FROM l GROUP BY fp),
        |lineg AS (
        |  SELECT 'line' AS grain, CAST(sum(n) AS BIGINT) AS n_units,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(n) - count(*) AS BIGINT) AS dup_units,
        |    CAST(sum(n * nb) AS BIGINT) AS bytes_total,
        |    CAST(sum((n - 1) * nb) AS BIGINT) AS bytes_saved
        |  FROM lp),
        |f AS (
        |  SELECT hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |fg AS (SELECT substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |       FROM f),
        |fr AS (SELECT fh AS fp, CAST(length(fh) // 2 AS BIGINT) AS nb
        |       FROM fg WHERE length(fh) > 0),
        |fp2 AS (SELECT fp, CAST(count(*) AS BIGINT) AS n, min(nb) AS nb
        |        FROM fr GROUP BY fp),
        |frameg AS (
        |  SELECT 'frame' AS grain, CAST(sum(n) AS BIGINT) AS n_units,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(n) - count(*) AS BIGINT) AS dup_units,
        |    CAST(sum(n * nb) AS BIGINT) AS bytes_total,
        |    CAST(sum((n - 1) * nb) AS BIGINT) AS bytes_saved
        |  FROM fp2)
        |SELECT * FROM docg WHERE n_units IS NOT NULL
        |UNION ALL SELECT * FROM lineg WHERE n_units IS NOT NULL
        |UNION ALL SELECT * FROM frameg WHERE n_units IS NOT NULL
        |ORDER BY grain""".stripMargin,

    // open/close by strict (ts, event_id) rank; extremes and counts
    // from one rollup; v_milli in exact integers (qs3 rule)
    "qz21_daily_ohlc" ->
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value
        |  FROM events),
        |o AS (
        |  SELECT user_id, day, value AS open FROM r
        |  QUALIFY row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY ts, event_id) = 1),
        |cl AS (
        |  SELECT user_id, day, value AS close FROM r
        |  QUALIFY row_number() OVER (PARTITION BY user_id, day
        |    ORDER BY ts DESC, event_id DESC) = 1),
        |a AS (
        |  SELECT user_id, day, max(value) AS high, min(value) AS low,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS v_milli
        |  FROM r GROUP BY user_id, day)
        |SELECT a.user_id, a.day, o.open, a.high, a.low, cl.close,
        |       a.n, a.v_milli
        |FROM a JOIN o USING (user_id, day) JOIN cl USING (user_id, day)
        |ORDER BY a.user_id, a.day""".stripMargin,

    // qx18's histogram staging; h = (n-1)*q/100 split into exact
    // integer rank + rational fraction, one interpolation per pct
    "qx69_interp_quantiles" ->
      """WITH hist AS (
        |  SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, n_chars,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS total
        |  FROM hist)
        |SELECT lang, CAST(max(total) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= ((total-1)*25)//100 + 1
        |       THEN n_chars END) AS DOUBLE)
        |    + max(CAST(((total-1)*25) % 100 AS DOUBLE) / 100.0)
        |    * (CAST(coalesce(
        |         min(CASE WHEN cum >= ((total-1)*25)//100 + 2
        |             THEN n_chars END),
        |         min(CASE WHEN cum >= ((total-1)*25)//100 + 1
        |             THEN n_chars END)) AS DOUBLE)
        |       - CAST(min(CASE WHEN cum >= ((total-1)*25)//100 + 1
        |             THEN n_chars END) AS DOUBLE)) AS p25_c,
        |  CAST(min(CASE WHEN cum >= ((total-1)*50)//100 + 1
        |       THEN n_chars END) AS DOUBLE)
        |    + max(CAST(((total-1)*50) % 100 AS DOUBLE) / 100.0)
        |    * (CAST(coalesce(
        |         min(CASE WHEN cum >= ((total-1)*50)//100 + 2
        |             THEN n_chars END),
        |         min(CASE WHEN cum >= ((total-1)*50)//100 + 1
        |             THEN n_chars END)) AS DOUBLE)
        |       - CAST(min(CASE WHEN cum >= ((total-1)*50)//100 + 1
        |             THEN n_chars END) AS DOUBLE)) AS p50_c,
        |  CAST(min(CASE WHEN cum >= ((total-1)*75)//100 + 1
        |       THEN n_chars END) AS DOUBLE)
        |    + max(CAST(((total-1)*75) % 100 AS DOUBLE) / 100.0)
        |    * (CAST(coalesce(
        |         min(CASE WHEN cum >= ((total-1)*75)//100 + 2
        |             THEN n_chars END),
        |         min(CASE WHEN cum >= ((total-1)*75)//100 + 1
        |             THEN n_chars END)) AS DOUBLE)
        |       - CAST(min(CASE WHEN cum >= ((total-1)*75)//100 + 1
        |             THEN n_chars END) AS DOUBLE)) AS p75_c
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,

    // qx13's decontam CTEs → md5-threshold split → three split-keyed
    // rollups (manifest, cross-split leak fingerprints, contam losses)
    "qp4_eval_split_pipeline" -> (ShingleCte +
      """,
        |probe AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)),
        |corp AS (
        |  SELECT doc_id, unnest(list_distinct(s)) AS g
        |  FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT corp.doc_id FROM corp JOIN probe USING (g)
        |  GROUP BY corp.doc_id),
        |cd AS (
        |  SELECT d.doc_id, d.text,
        |    CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |              < 'cccccccc' THEN 'train'
        |         WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |              < 'e6666666' THEN 'val'
        |         ELSE 'test' END AS split,
        |    (h.doc_id IS NOT NULL) AS contam
        |  FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |  WHERE d.doc_id % 97 <> 0),
        |asg AS (
        |  SELECT doc_id, split, md5(text) AS fp,
        |         CAST(strlen(text) AS BIGINT) AS nb
        |  FROM cd WHERE NOT contam),
        |leaky AS (
        |  SELECT fp FROM asg GROUP BY fp
        |  HAVING count(DISTINCT split) > 1),
        |lc AS (
        |  SELECT split, CAST(count(*) AS BIGINT) AS n_leaked
        |  FROM asg WHERE fp IN (SELECT fp FROM leaky)
        |  GROUP BY split),
        |base AS (
        |  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(nb) AS BIGINT) AS bytes
        |  FROM asg GROUP BY split),
        |dr AS (
        |  SELECT split, CAST(count(*) AS BIGINT) AS n_dropped_contam
        |  FROM cd WHERE contam GROUP BY split)
        |SELECT b.split, b.n_docs, b.bytes,
        |  COALESCE(l.n_leaked, 0) AS n_leaked,
        |  COALESCE(dr.n_dropped_contam, 0) AS n_dropped_contam
        |FROM base b LEFT JOIN lc l USING (split)
        |LEFT JOIN dr USING (split)
        |ORDER BY b.split""".stripMargin),

    // qm5's frame/byte-vector staging, byte unnest, two (asset, frame)
    // rollups, rational Gini
    "qm7_frame_gini" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    CAST(length(fh) // 2 AS BIGINT) AS frame_len,
        |    unnest(list_transform(range(1, length(fh) // 2 + 1),
        |      b -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2 AS INT), 1)) - 1) AS BIGINT)))
        |      AS b
        |  FROM g WHERE length(fh) > 0),
        |c AS (
        |  SELECT doc_id, frame_no, frame_len, b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM h GROUP BY doc_id, frame_no, frame_len, b),
        |p AS (
        |  SELECT doc_id, frame_no, frame_len,
        |    CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM c GROUP BY doc_id, frame_no, frame_len)
        |SELECT doc_id, frame_no, frame_len, n_distinct_bytes,
        |  1.0 - CAST(ss AS DOUBLE) /
        |    CAST(frame_len * frame_len AS DOUBLE) AS gini
        |FROM p ORDER BY doc_id, frame_no""".stripMargin,

    // the qm8 toy-format decode recomputed from hex slices: 16
    // zero-padded bytes per sampled frame, header nibbles/codes by
    // position, channel sums/maxes over the interleaved payload
    // (1-indexed list positions 5..16; channel = position mod 3)
    "qm8_frame_decode" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CASE WHEN length(fh) >= (CAST(j AS INT) + 1) * 2
        |        THEN CAST((strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM g)
        |SELECT doc_id, frame_no,
        |  b[1] // 16 AS version, b[1] % 16 AS flags,
        |  b[2] AS width, b[3] AS height,
        |  b[5] + b[8] + b[11] + b[14] AS ch0_sum,
        |  b[6] + b[9] + b[12] + b[15] AS ch1_sum,
        |  b[7] + b[10] + b[13] + b[16] AS ch2_sum,
        |  greatest(b[5], b[8], b[11], b[14]) AS ch0_max,
        |  greatest(b[6], b[9], b[12], b[15]) AS ch1_max,
        |  greatest(b[7], b[10], b[13], b[16]) AS ch2_max
        |FROM h ORDER BY doc_id, frame_no""".stripMargin,

    // per-user conversion rollup, then one row of pooled two-proportion
    // arithmetic; degenerate pools yield NULL chi2
    "qz24_ab_test" ->
      """WITH conv AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cv,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(cv) AS BIGINT) AS c
        |  FROM conv GROUP BY variant),
        |a AS (SELECT n AS n0, c AS c0 FROM g WHERE variant = 0),
        |b AS (SELECT n AS n1, c AS c1 FROM g WHERE variant = 1),
        |j AS (
        |  SELECT n0, c0, n1, c1,
        |    CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        |    CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS pp
        |  FROM a CROSS JOIN b)
        |SELECT n0, c0, n1, c1, p0, p1,
        |  CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |    (p0 - p1) * (p0 - p1) /
        |    (pp * (1.0 - pp) *
        |     (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |  END AS chi2,
        |  CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |    (p0 - p1) * (p0 - p1) /
        |    (pp * (1.0 - pp) *
        |     (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        |    > 3.841
        |  END AS significant
        |FROM j""".stripMargin,

    // two conditional user-keyed mins -> minute histogram -> type-1
    // quantile picks over the distinct-latency domain
    "qz25_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
        |  GROUP BY e.user_id),
        |dt AS (
        |  SELECT (epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 60000000 AS m
        |  FROM v JOIN p USING (user_id)),
        |hist AS (SELECT m, count(*) AS c FROM dt GROUP BY m),
        |cum AS (
        |  SELECT m,
        |    sum(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER () AS total
        |  FROM hist)
        |SELECT CAST(max(total) AS BIGINT) AS n_converted,
        |  min(CASE WHEN cum * 100 >= total * 25 THEN m END) AS p25_min,
        |  min(CASE WHEN cum * 100 >= total * 50 THEN m END) AS p50_min,
        |  min(CASE WHEN cum * 100 >= total * 75 THEN m END) AS p75_min
        |FROM cum
        |HAVING max(total) IS NOT NULL""".stripMargin,

    // the PLAIN join — the salt must be invisible in the result
    "qz26_salted_join" ->
      """WITH d AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_user_events
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id, d.n_user_events
        |FROM events e JOIN d USING (user_id)
        |ORDER BY e.event_id""".stripMargin,

    // the same 256-register HLL recomputed from the md5 fold: bucket =
    // low 8 bits, register = leading-zero rank of the remaining 52 bits
    // via length(bin(v)), numerators scaled by 2^53 so the register sum
    // is exact BIGINT; the alpha*m^2*2^53 constant is the identical
    // Scala-computed double literal on both sides
    "qx72_hll_distinct" -> {
      val c = 0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * 9007199254740992.0
      s"""WITH t AS (
        |  SELECT source, unnest(list_distinct(string_split(text, ' ')))
        |    AS term
        |  FROM documents),
        |hh AS (
        |  SELECT source, term, list_reduce(list_transform(range(1, 16),
        |    i -> CAST(strpos('0123456789abcdef',
        |      substr(md5(term), CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h
        |  FROM t),
        |r AS (
        |  SELECT source, h % 256 AS bucket,
        |    CASE WHEN h // 256 = 0 THEN 53
        |         ELSE 53 - length(bin(h // 256)) END AS rho
        |  FROM hh),
        |mx AS (
        |  SELECT source, bucket, max(rho) AS mx FROM r
        |  GROUP BY source, bucket),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_buckets_hit,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mx AS INT))
        |      AS BIGINT) AS num_hit
        |  FROM mx GROUP BY source),
        |e AS (
        |  SELECT source, CAST(count(DISTINCT term) AS BIGINT) AS n_exact
        |  FROM t GROUP BY source)
        |SELECT a.source, a.n_buckets_hit,
        |  CAST(${java.lang.Double.toString(c)} AS DOUBLE) /
        |    CAST(a.num_hit + (256 - a.n_buckets_hit) * 9007199254740992
        |      AS DOUBLE) AS hll_est,
        |  e.n_exact
        |FROM a JOIN e USING (source)
        |ORDER BY source""".stripMargin
    },

    // gap sessions via the strict > break (exact-gap merges — the
    // session_window boundary Round9Spec pins), one summary row
    "qz30_bounce_rate" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |c AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounce,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE) AS bounce_rate
        |FROM c
        |HAVING count(*) > 0""".stripMargin,

    // blob-fingerprint keeper + frame/shot facts + static gate, all
    // from the shared qm CTE shapes
    "qp5_media_pipeline" ->
      """WITH med AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
        |    md5(text) AS fp
        |  FROM documents),
        |kp AS (SELECT fp, min(doc_id) AS keeper FROM med GROUP BY fp),
        |f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |b AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |d AS (
        |  SELECT doc_id, frame_no, bv,
        |    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pv
        |  FROM b),
        |k AS (
        |  SELECT doc_id,
        |    CASE WHEN pv IS NULL THEN 1
        |         WHEN COALESCE(list_sum(list_transform(
        |             range(1, least(len(bv), len(pv)) + 1),
        |             j -> abs(bv[CAST(j AS INT)] - pv[CAST(j AS INT)]))),
        |           0) >= 520 THEN 1
        |         ELSE 0 END AS brk
        |  FROM d),
        |ff AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |    CAST(count(DISTINCT fh) AS BIGINT) AS n_distinct_frames
        |  FROM g GROUP BY doc_id),
        |sh AS (
        |  SELECT doc_id, CAST(sum(brk) AS BIGINT) AS n_shots
        |  FROM k GROUP BY doc_id)
        |SELECT med.doc_id, med.nbytes, ff.n_frames,
        |  ff.n_distinct_frames, sh.n_shots,
        |  (med.doc_id <> kp.keeper) AS is_dup_blob,
        |  (ff.n_distinct_frames = 1) AS is_static,
        |  (med.doc_id = kp.keeper AND ff.n_distinct_frames <> 1) AS kept
        |FROM med
        |JOIN kp USING (fp)
        |JOIN ff ON ff.doc_id = med.doc_id
        |JOIN sh ON sh.doc_id = med.doc_id
        |ORDER BY med.doc_id""".stripMargin,

    // per-doc rule flags by exact integer cross-multiplication, one
    // source-keyed failure-attribution rollup
    "qx75_gopher_gate" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS toks, text
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    CAST(list_sum(list_transform(toks, x -> length(x)))
        |      AS BIGINT) AS sumlen,
        |    CAST(list_sum(list_transform(toks,
        |      x -> CASE WHEN regexp_matches(x, '[a-zA-Z]')
        |           THEN 1 ELSE 0 END)) AS BIGINT) AS n_alpha,
        |    CAST(list_sum(list_transform(toks,
        |      x -> CASE WHEN x IN ('the','and','of','to','a')
        |           THEN 1 ELSE 0 END)) AS BIGINT) AS n_stop,
        |    CAST(len(regexp_extract_all(text, '[#@*…]')) AS BIGINT)
        |      AS n_sym
        |  FROM t),
        |r AS (
        |  SELECT source,
        |    (n >= 50 AND n <= 100000) AS r_len,
        |    (3*n <= sumlen AND sumlen <= 10*n) AS r_wlen,
        |    (5*n_alpha >= 4*n) AS r_alpha,
        |    (n_stop >= 2) AS r_stop,
        |    (10*n_sym <= n) AS r_sym
        |  FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r_len AND r_wlen AND r_alpha AND r_stop
        |    AND r_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN NOT r_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_len,
        |  CAST(sum(CASE WHEN NOT r_wlen THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_wlen,
        |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_alpha,
        |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_stop,
        |  CAST(sum(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_sym
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // the qm8 zero-padded byte list, de-interleaved to 3 channels
    // (payload positions 5+c, 8+c, 11+c, 14+c), (asset, channel) rollup
    "qm10_audio_loudness" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CASE WHEN length(fh) >= (CAST(j AS INT) + 1) * 2
        |        THEN CAST((strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM g),
        |x AS (
        |  SELECT doc_id, CAST(unnest([0, 1, 2]) AS BIGINT) AS channel, b
        |  FROM h),
        |y AS (
        |  SELECT doc_id, channel,
        |    b[CAST(5 + channel AS INT)] AS s1,
        |    b[CAST(8 + channel AS INT)] AS s2,
        |    b[CAST(11 + channel AS INT)] AS s3,
        |    b[CAST(14 + channel AS INT)] AS s4
        |  FROM x)
        |SELECT doc_id, channel,
        |  CAST(4 * count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(s1*s1 + s2*s2 + s3*s3 + s4*s4) AS BIGINT) AS sum_sq,
        |  CAST(max(greatest(s1, s2, s3, s4)) AS BIGINT) AS peak,
        |  CAST(sum((CASE WHEN s1 >= 160 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s2 >= 160 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s3 >= 160 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s4 >= 160 THEN 1 ELSE 0 END)) AS BIGINT)
        |    AS n_clip,
        |  sqrt(CAST(sum(s1*s1 + s2*s2 + s3*s3 + s4*s4) AS DOUBLE)
        |    / CAST(4 * count(*) AS DOUBLE)) AS rms
        |FROM y GROUP BY doc_id, channel
        |ORDER BY doc_id, channel""".stripMargin,

    // value histogram blocks (tie-free rank algebra), Gini rank formula
    // + ceil(n/10) heaviest-user mass, all integer to the last division
    "qz31_value_gini" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |hist AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY v),
        |b AS (
        |  SELECT v, c,
        |    COALESCE(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb,
        |    COALESCE(sum(c) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS ca
        |  FROM hist),
        |s AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(v * c) AS BIGINT) AS tot,
        |    CAST(sum(v * (2*c*cb + c*(c+1))) AS BIGINT) AS trv
        |  FROM b),
        |t AS (
        |  SELECT s.n, s.tot, s.trv,
        |    CAST(sum(greatest(0, least(b.c, (s.n + 9) // 10 - b.ca))
        |      * b.v) AS BIGINT) AS top_milli
        |  FROM b CROSS JOIN s GROUP BY s.n, s.tot, s.trv)
        |SELECT n AS n_users, tot AS total_milli,
        |  CAST(trv - (n + 1) * tot AS DOUBLE)
        |    / CAST(n * tot AS DOUBLE) AS gini,
        |  CAST(top_milli AS DOUBLE) / CAST(tot AS DOUBLE)
        |    AS top_decile_share
        |FROM t WHERE tot > 0""".stripMargin,

    // qz18's transition chain, nano-unit rows, 5 unrolled integer power
    // steps (// matches Spark's div; per-edge division before each sum)
    "qz32_markov_stationary" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |p AS (
        |  SELECT from_type, to_type,
        |    (n * CAST(1000000000 AS BIGINT))
        |      // (sum(n) OVER (PARTITION BY from_type)) AS p_nano
        |  FROM tr),
        |nt AS (
        |  SELECT CAST(count(DISTINCT from_type) AS BIGINT) AS nt FROM p),
        |p0 AS (
        |  SELECT DISTINCT from_type AS t,
        |    CAST(1000000000 AS BIGINT) // (SELECT nt FROM nt) AS pi
        |  FROM p),
        |p1 AS (
        |  SELECT p.to_type AS t,
        |    CAST(sum((p0.pi * p.p_nano) // 1000000000) AS BIGINT) AS pi
        |  FROM p0 JOIN p ON p0.t = p.from_type GROUP BY 1),
        |p2 AS (
        |  SELECT p.to_type AS t,
        |    CAST(sum((p1.pi * p.p_nano) // 1000000000) AS BIGINT) AS pi
        |  FROM p1 JOIN p ON p1.t = p.from_type GROUP BY 1),
        |p3 AS (
        |  SELECT p.to_type AS t,
        |    CAST(sum((p2.pi * p.p_nano) // 1000000000) AS BIGINT) AS pi
        |  FROM p2 JOIN p ON p2.t = p.from_type GROUP BY 1),
        |p4 AS (
        |  SELECT p.to_type AS t,
        |    CAST(sum((p3.pi * p.p_nano) // 1000000000) AS BIGINT) AS pi
        |  FROM p3 JOIN p ON p3.t = p.from_type GROUP BY 1),
        |p5 AS (
        |  SELECT p.to_type AS t,
        |    CAST(sum((p4.pi * p.p_nano) // 1000000000) AS BIGINT) AS pi
        |  FROM p4 JOIN p ON p4.t = p.from_type GROUP BY 1)
        |SELECT t AS event_type, pi AS pi_nano,
        |  CAST(pi AS DOUBLE) / 1e9 AS pi
        |FROM p5 ORDER BY event_type""".stripMargin,

    // qx43's winnow staging, df-capped self-join, overlap coefficient
    "qx76_winnow_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |hs AS (
        |  SELECT doc_id, list_transform(range(len(toks) - 2),
        |    i -> list_reduce(list_transform(range(1, 16),
        |      j -> CAST(strpos('0123456789abcdef',
        |        substr(md5(toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |          toks[i+3]), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |      (a, x) -> a * 16 + x)) AS h
        |  FROM tok WHERE len(toks) >= 3),
        |fp AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(h) >= 4
        |      THEN list_transform(range(len(h) - 3),
        |        i -> list_min(h[i+1:i+4]))
        |      ELSE [list_min(h)] END) AS fps
        |  FROM hs),
        |x AS (SELECT doc_id, unnest(fps) AS v FROM fp),
        |sizes AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |  FROM x GROUP BY doc_id),
        |dfre AS (SELECT v, count(*) AS n_docs FROM x GROUP BY v),
        |kept AS (
        |  SELECT x.doc_id, x.v FROM x JOIN dfre USING (v)
        |  WHERE dfre.n_docs <= 64),
        |pr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b
        |    ON a.v = b.v AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.d1, pr.d2, pr.n_shared,
        |  CAST(pr.n_shared AS DOUBLE)
        |    / CAST(least(s1.n_fp, s2.n_fp) AS DOUBLE) AS overlap
        |FROM pr
        |JOIN sizes s1 ON s1.doc_id = pr.d1
        |JOIN sizes s2 ON s2.doc_id = pr.d2
        |ORDER BY d1, d2""".stripMargin,

    // day-grain rollup, integer cross-multiplied CUSUM, argmax with
    // earliest-day tie-break, segment means as the only doubles
    "qz33_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY day),
        |st AS (
        |  SELECT day, c,
        |    CAST(sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
        |  FROM daily),
        |tot AS (
        |  SELECT CAST(max(cum) AS BIGINT) AS ctot,
        |    CAST(count(*) AS BIGINT) AS n_days FROM st)
        |SELECT st.day AS cp_day, tot.n_days,
        |  CAST(tot.n_days * st.cum - st.idx * tot.ctot AS BIGINT)
        |    AS cusum_scaled,
        |  CAST(st.cum AS DOUBLE) / CAST(st.idx AS DOUBLE) AS pre_mean,
        |  CASE WHEN tot.n_days > st.idx
        |       THEN CAST(tot.ctot - st.cum AS DOUBLE)
        |            / CAST(tot.n_days - st.idx AS DOUBLE)
        |  END AS post_mean
        |FROM st CROSS JOIN tot
        |ORDER BY abs(tot.n_days * st.cum - st.idx * tot.ctot) DESC,
        |  st.day
        |LIMIT 1""".stripMargin,

    // 13-token gram hashes (the qx43 60-bit md5 fold), benchmark fence
    // doc_id % 97, per-position hit counts, sub-13-token docs clean
    "qx77_ngram_decontam" -> {
      val g13 = (1 to 13).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |hs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 13
        |      THEN list_transform(range(len(toks) - 12),
        |        i -> list_reduce(list_transform(range(1, 16),
        |          j -> CAST(strpos('0123456789abcdef',
        |            substr(md5($g13), CAST(j AS INT), 1)) - 1 AS BIGINT)),
        |          (a, x) -> a * 16 + x))
        |      ELSE CAST([] AS BIGINT[]) END AS g
        |  FROM tok),
        |bench AS (
        |  SELECT DISTINCT unnest(g) AS g FROM hs WHERE doc_id % 97 = 0),
        |cg AS (
        |  SELECT doc_id, unnest(g) AS gg FROM hs WHERE doc_id % 97 <> 0),
        |agg AS (
        |  SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_hit
        |  FROM cg LEFT JOIN bench ON cg.gg = bench.g
        |  GROUP BY cg.doc_id)
        |SELECT d.doc_id, COALESCE(agg.n_grams, 0) AS n_grams,
        |  COALESCE(agg.n_hit, 0) AS n_hit,
        |  COALESCE(agg.n_hit, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    },

    // the qm8 zero-padded byte list → 16-bit above-mean signature
    // (strict 16·b > Σb), distinct per asset, df-capped pair join
    "qm11_phash_neardup" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CASE WHEN length(fh) >= (CAST(j AS INT) + 1) * 2
        |        THEN CAST((strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM g),
        |sg AS (
        |  SELECT DISTINCT doc_id,
        |    list_sum(list_transform(range(0, 16),
        |      i -> CASE WHEN 16 * b[CAST(i + 1 AS INT)] > list_sum(b)
        |           THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS sig
        |  FROM h),
        |dfre AS (SELECT sig, count(*) AS n_docs FROM sg GROUP BY sig),
        |kept AS (
        |  SELECT sg.doc_id, sg.sig FROM sg JOIN dfre USING (sig)
        |  WHERE dfre.n_docs <= 64)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b
        |  ON a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY d1, d2""".stripMargin,

    // (week, user) distinct, consecutive-week self-join, left-joined
    // return counts
    "qz34_stickiness" ->
      """WITH wk AS (
        |  SELECT DISTINCT
        |    CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
        |      AS BIGINT) AS week, user_id
        |  FROM events),
        |act AS (
        |  SELECT week, CAST(count(*) AS BIGINT) AS n_active
        |  FROM wk GROUP BY week),
        |ret AS (
        |  SELECT w.week, CAST(count(*) AS BIGINT) AS n_ret
        |  FROM wk w JOIN wk p
        |    ON p.week + 1 = w.week AND p.user_id = w.user_id
        |  GROUP BY w.week)
        |SELECT act.week, act.n_active,
        |  COALESCE(ret.n_ret, 0) AS n_returning,
        |  CAST(COALESCE(ret.n_ret, 0) AS DOUBLE)
        |    / CAST(act.n_active AS DOUBLE) AS stickiness
        |FROM act LEFT JOIN ret USING (week)
        |ORDER BY week""".stripMargin,

    // exact-histogram quartile scores (ROWS frame pinned — single row
    // per distinct value, so RANGE==ROWS, but mirror the Spark frame)
    "qz36_rfm_segments" ->
      """WITH p AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(floor(value * 1000) AS BIGINT) AS vm
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, max(day) AS lastd,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(vm) AS BIGINT) AS mon
        |  FROM p GROUP BY user_id),
        |uu AS (
        |  SELECT user_id, maxd - lastd AS rec, freq, mon
        |  FROM u CROSS JOIN (SELECT max(lastd) AS maxd FROM u)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uu),
        |hr AS (
        |  SELECT v AS rec, 1 + ((CAST(cum AS BIGINT) - 1) * 4) // n
        |    AS rec_q FROM (
        |    SELECT rec AS v, sum(CAST(count(*) AS BIGINT)) OVER (
        |      ORDER BY rec ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cum
        |    FROM uu GROUP BY rec) CROSS JOIN nn),
        |hf AS (
        |  SELECT v AS freq, 1 + ((CAST(cum AS BIGINT) - 1) * 4) // n
        |    AS freq_q FROM (
        |    SELECT freq AS v, sum(CAST(count(*) AS BIGINT)) OVER (
        |      ORDER BY freq ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cum
        |    FROM uu GROUP BY freq) CROSS JOIN nn),
        |hm AS (
        |  SELECT v AS mon, 1 + ((CAST(cum AS BIGINT) - 1) * 4) // n
        |    AS mon_q FROM (
        |    SELECT mon AS v, sum(CAST(count(*) AS BIGINT)) OVER (
        |      ORDER BY mon ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      CURRENT ROW) AS cum
        |    FROM uu GROUP BY mon) CROSS JOIN nn)
        |SELECT rec_q, freq_q, mon_q,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(uu.freq) AS BIGINT) AS n_purchases,
        |  CAST(sum(uu.mon) AS BIGINT) AS monetary_milli
        |FROM uu
        |JOIN hr USING (rec) JOIN hf USING (freq) JOIN hm USING (mon)
        |GROUP BY rec_q, freq_q, mon_q
        |ORDER BY rec_q, freq_q, mon_q""".stripMargin,

    // same integer cadence math: second-grain gaps, nQ − S² variance,
    // 1000·var < 50·S² flag
    "qz41_bot_regularity" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
        |      AS g
        |  FROM events),
        |u AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sg,
        |    CAST(sum(g * g) AS BIGINT) AS qg
        |  FROM g WHERE g IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps,
        |  (sg * 1000) // n_gaps AS mean_gap_milli_s,
        |  (1000 * (n_gaps * qg - sg * sg)) // (sg * sg) AS cv2_milli
        |FROM u
        |WHERE n_gaps >= 5 AND sg > 0
        |  AND 1000 * (n_gaps * qg - sg * sg) < 50 * sg * sg
        |ORDER BY user_id""".stripMargin,

    // same exact-integer cross-multiplied ACF, one shared division
    "qz40_acf" ->
      """WITH d AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS x
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day FROM events)
        |  GROUP BY day),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d),
        |ks AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS k),
        |p AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
        |    CAST(sum(a.x) AS BIGINT) AS sa,
        |    CAST(sum(b.x) AS BIGINT) AS sb
        |  FROM ks CROSS JOIN d a JOIN d b ON b.day = a.day + k
        |  GROUP BY k)
        |SELECT k, np AS n_pairs,
        |  CASE WHEN n * sxx - sx * sx > 0
        |    THEN CAST(n*n*sxy - n*sx*(sa + sb) + np*sx*sx AS DOUBLE)
        |      / CAST(n * (n*sxx - sx*sx) AS DOUBLE)
        |    ELSE 0.0E0 END AS acf
        |FROM p CROSS JOIN g ORDER BY k""".stripMargin,

    // lower-median + MAD per dow cohort over sorted bounded lists,
    // integer 2·dev > 5·mad cross-multiplication
    "qz38_anomaly_days" ->
      """WITH daily AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS cnt, day % 7 AS dow
        |  FROM (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |          AS BIGINT) AS day FROM events)
        |  GROUP BY day),
        |med AS (
        |  SELECT dow, l[CAST((len(l) + 1) // 2 AS INT)] AS med FROM (
        |    SELECT dow, list(cnt ORDER BY cnt) AS l
        |    FROM daily GROUP BY dow)),
        |dev AS (
        |  SELECT day, daily.dow, cnt, med, abs(cnt - med) AS dev
        |  FROM daily JOIN med USING (dow)),
        |mad AS (
        |  SELECT dow, l[CAST((len(l) + 1) // 2 AS INT)] AS mad FROM (
        |    SELECT dow, list(dev ORDER BY dev) AS l
        |    FROM dev GROUP BY dow))
        |SELECT day, dow, cnt, med, mad, dev
        |FROM dev JOIN mad USING (dow)
        |WHERE 2 * dev > 5 * mad
        |ORDER BY day""".stripMargin,

    // generated Morton fold (mortonSql — same loop as the Spark
    // column), distinct-value file ranks, per-file min/max envelopes
    "qz37_zorder_layout" -> {
      val stage =
        s"""WITH base AS (
           |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
           |    AS day, user_id % 256 AS ub
           |  FROM events),
           |mm AS (
           |  SELECT min(day) AS mind, max(day) AS maxd,
           |    CAST(count(*) AS BIGINT) AS n FROM base),
           |ev AS (
           |  SELECT day, ub,
           |    ((day - mind) * 255) // greatest(maxd - mind, 1) AS xb, n
           |  FROM base CROSS JOIN mm),
           |ez AS (
           |  SELECT day, ub, n, ${mortonSql("xb", "ub")} AS z FROM ev)""".stripMargin
      def leg(dim: String, label: String) =
        s"""SELECT '$label' AS layout, file,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  min(day) AS min_day, max(day) AS max_day,
           |  min(ub) AS min_ub, max(ub) AS max_ub,
           |  (max(day) - min(day) + 1) * (max(ub) - min(ub) + 1) AS area
           |FROM ez JOIN (
           |  SELECT v AS $dim,
           |    ((CAST(cum AS BIGINT) - c) * 16) // n AS file FROM (
           |    SELECT $dim AS v, n, CAST(count(*) AS BIGINT) AS c,
           |      sum(CAST(count(*) AS BIGINT)) OVER (
           |        ORDER BY $dim ROWS BETWEEN UNBOUNDED PRECEDING AND
           |        CURRENT ROW) AS cum
           |    FROM ez GROUP BY $dim, n)) USING ($dim)
           |GROUP BY file""".stripMargin
      stage + "\n" + leg("z", "zorder") + "\nUNION ALL\n" +
        leg("day", "natural") + "\nORDER BY layout, file"
    },

    // qm10's frame staging + per-(asset, channel, value) counts, the
    // qx28 ordered p·ln p fold, +0.0E0 for the constant-channel −0.0
    "qm13_channel_entropy" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(0, 16),
        |      j -> CASE WHEN length(fh) >= (CAST(j AS INT) + 1) * 2
        |        THEN CAST((strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+1 AS INT), 1)) - 1) * 16
        |           + (strpos('0123456789ABCDEF',
        |               substr(fh, CAST(j*2+2 AS INT), 1)) - 1) AS BIGINT)
        |        ELSE CAST(0 AS BIGINT) END) AS b
        |  FROM g),
        |x AS (
        |  SELECT doc_id, CAST(unnest([0, 1, 2]) AS BIGINT) AS channel, b
        |  FROM h),
        |sm AS (
        |  SELECT doc_id, channel,
        |    unnest([b[CAST(5 + channel AS INT)],
        |            b[CAST(8 + channel AS INT)],
        |            b[CAST(11 + channel AS INT)],
        |            b[CAST(14 + channel AS INT)]]) AS v
        |  FROM x),
        |ct AS (
        |  SELECT doc_id, channel, v, CAST(count(*) AS BIGINT) AS c
        |  FROM sm GROUP BY doc_id, channel, v),
        |tot AS (
        |  SELECT doc_id, channel, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS nd
        |  FROM ct GROUP BY doc_id, channel)
        |SELECT ct.doc_id, ct.channel, t.n AS n_samples,
        |  t.nd AS n_distinct,
        |  round(-list_reduce(list_prepend(0.0E0,
        |      list((CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE)) *
        |        ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE)) ORDER BY v)),
        |    (a, x) -> a + x), 9) + 0.0E0 AS entropy
        |FROM ct JOIN tot t USING (doc_id, channel)
        |GROUP BY ct.doc_id, ct.channel, t.n, t.nd
        |ORDER BY doc_id, channel""".stripMargin,

    // integer centi-FK per doc ((39·w)//s + (1180·syl)//w − 1559, all
    // terms non-negative so // == div), source rollup
    "qx78_readability" ->
      """WITH f AS (
        |  SELECT source,
        |    greatest(CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
        |      AS BIGINT), 1) AS n_words,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT), 1) AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |      AS BIGINT) AS n_syl
        |  FROM documents),
        |g AS (
        |  SELECT source, (39 * n_words) // n_sents
        |    + (1180 * n_syl) // n_words - 1559 AS fk
        |  FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(fk) AS BIGINT) AS fk_centi_sum,
        |  min(fk) AS fk_centi_min, max(fk) AS fk_centi_max,
        |  CAST(sum(fk) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
        |    AS mean_fk
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // qm9's shot CTEs carrying bv through, distinct-byte diversity,
    // QUALIFY argmax with earliest-frame tie-break
    "qm12_shot_thumbnail" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |b AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |d AS (
        |  SELECT doc_id, frame_no, bv,
        |    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pv
        |  FROM b),
        |k AS (
        |  SELECT doc_id, frame_no, bv,
        |    CASE WHEN pv IS NULL THEN 1
        |         WHEN COALESCE(list_sum(list_transform(
        |             range(1, least(len(bv), len(pv)) + 1),
        |             j -> abs(bv[CAST(j AS INT)] - pv[CAST(j AS INT)]))),
        |           0) >= 520 THEN 1
        |         ELSE 0 END AS brk
        |  FROM d),
        |sh AS (
        |  SELECT doc_id, frame_no,
        |    CAST(len(list_distinct(bv)) AS BIGINT) AS ndist,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM k),
        |cnt AS (
        |  SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS n_frames
        |  FROM sh GROUP BY doc_id, shot),
        |pick AS (
        |  SELECT doc_id, shot, frame_no AS thumb_frame,
        |    ndist AS thumb_ndist
        |  FROM sh
        |  QUALIFY row_number() OVER (PARTITION BY doc_id, shot
        |    ORDER BY ndist DESC, frame_no) = 1)
        |SELECT c.doc_id, CAST(c.shot AS BIGINT) AS shot, c.n_frames,
        |  p.thumb_frame, p.thumb_ndist
        |FROM cnt c JOIN pick p USING (doc_id, shot)
        |ORDER BY doc_id, shot""".stripMargin,

    // day-grain counts, same-dow history mean in milli-units
    // ((sum·1000) // n), final-week absolute errors
    "qz35_dow_backtest" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY day),
        |mx AS (SELECT CAST(max(day) AS BIGINT) AS mxd FROM daily),
        |hist AS (
        |  SELECT day % 7 AS dow, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM daily CROSS JOIN mx WHERE day < mxd - 6
        |  GROUP BY day % 7),
        |bt AS (
        |  SELECT day, day % 7 AS dow, c AS actual
        |  FROM daily CROSS JOIN mx WHERE day >= mxd - 6)
        |SELECT bt.day, CAST(bt.dow AS BIGINT) AS dow, bt.actual,
        |  CAST((hist.s * 1000) // hist.n AS BIGINT) AS pred_milli,
        |  CAST(abs(bt.actual * 1000 - (hist.s * 1000) // hist.n)
        |    AS BIGINT) AS err_milli
        |FROM bt JOIN hist USING (dow)
        |ORDER BY day""".stripMargin,

    // strict > session break (qz30), qz16's chained conditional mins,
    // milli-unit purchase value, 4-row stage manifest
    "qp6_funnel_pipeline" ->
      """WITH m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
        |  FROM m GROUP BY user_id),
        |base AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS v_milli
        |  FROM events GROUP BY user_id),
        |t1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
        |  FROM events GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > t1.v_ts
        |        THEN e.ts END) AS c_ts
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > t2.c_ts
        |        THEN e.ts END) AS p_ts
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  GROUP BY e.user_id),
        |u AS (
        |  SELECT base.user_id, base.n_events, sess.n_sessions,
        |    base.v_milli,
        |    CASE WHEN t3.p_ts IS NOT NULL THEN 3
        |         WHEN t2.c_ts IS NOT NULL THEN 2
        |         WHEN t1.v_ts IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM base JOIN sess USING (user_id)
        |  LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id)
        |  LEFT JOIN t3 USING (user_id))
        |SELECT CAST(stage AS BIGINT) AS stage,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_sessions) AS BIGINT) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(sum(v_milli) AS BIGINT) AS value_milli
        |FROM u GROUP BY stage ORDER BY stage""".stripMargin,

    // deletion-neighborhood keys ({term} ∪ one-char deletions), hot-key
    // cap, equi-join candidates, exact levenshtein == 1 refine
    "qx73_spell_variants" ->
      """WITH v AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS tf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term
        |    FROM documents
        |    WHERE len(string_split(text, ' ')) >= 3)
        |  GROUP BY term
        |  HAVING length(term) >= 4 AND count(*) >= 2),
        |keyed AS (
        |  SELECT term, tf, unnest(list_distinct(
        |    list_append(list_transform(range(1, length(term) + 1),
        |      p -> substr(term, 1, CAST(p - 1 AS INT)) ||
        |           substr(term, CAST(p + 1 AS INT), length(term))),
        |      term))) AS k
        |  FROM v),
        |cold AS (
        |  SELECT * FROM keyed
        |  WHERE k NOT IN (SELECT k FROM keyed GROUP BY k
        |                  HAVING count(*) > 64)),
        |pairs AS (
        |  SELECT DISTINCT a.term AS t1, b.term AS t2,
        |    a.tf AS tf1, b.tf AS tf2
        |  FROM cold a JOIN cold b ON a.k = b.k AND a.term < b.term)
        |SELECT t1, t2, tf1, tf2 FROM pairs
        |WHERE levenshtein(t1, t2) = 1
        |ORDER BY t1, t2""".stripMargin,

    // 24 x |types| cells + hour totals; UTC session on both engines
    "qz29_hourly_profile" ->
      """WITH c AS (
        |  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT hod, CAST(sum(n) AS BIGINT) AS nh FROM c GROUP BY hod)
        |SELECT c.hod, c.event_type, c.n,
        |  CAST(c.n AS DOUBLE) / CAST(t.nh AS DOUBLE) AS share
        |FROM c JOIN t USING (hod)
        |ORDER BY hod, event_type""".stripMargin,

    // char-class regexp counts (Java ∩ RE2 semantics), one narrow pass
    "qx74_code_detect" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[{}\[\]();]')) AS BIGINT)
        |    AS n_sym,
        |  CAST(len(regexp_extract_all(text, '=')) AS BIGINT) AS n_assign,
        |  CAST(len(regexp_extract_all(text, '\n  ')) AS BIGINT)
        |    AS n_indent,
        |  CAST(len(regexp_extract_all(text, '[{}\[\]();]')) AS DOUBLE) /
        |    CAST(greatest(n_chars, 1) AS DOUBLE) AS sym_density,
        |  (CAST(len(regexp_extract_all(text, '[{}\[\]();]')) AS DOUBLE) /
        |    CAST(greatest(n_chars, 1) AS DOUBLE) > 0.01)
        |  AND (len(regexp_extract_all(text, '=')) > 0
        |       OR len(regexp_extract_all(text, '\n  ')) > 0) AS is_code
        |FROM documents ORDER BY doc_id""".stripMargin,

    // last non-purchase type strictly before each purchase in the
    // user's (ts, event_id) order; value credited in exact milli units
    "qz27_attribution" ->
      """WITH a AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'none') AS touch,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS value_milli
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch""".stripMargin,

    // two leads over the same strict per-user order, corpus-wide rollup
    "qz28_event_paths" ->
      """WITH p AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1 || '>' || t2 || '>' || t3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,

    // frame byte lists from hex slices, lag per asset, integer L1
    // delta (list_sum of abs diffs, NULL-safe for empty frames), break
    // at first frame or delta >= 520, running-sum shot ids, rollups
    "qm9_shot_segments" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |b AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      j -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(j*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |d AS (
        |  SELECT doc_id, frame_no, bv,
        |    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pv
        |  FROM b),
        |k AS (
        |  SELECT doc_id, frame_no,
        |    CASE WHEN pv IS NULL THEN 1
        |         WHEN COALESCE(list_sum(list_transform(
        |             range(1, least(len(bv), len(pv)) + 1),
        |             j -> abs(bv[CAST(j AS INT)] - pv[CAST(j AS INT)]))),
        |           0) >= 520 THEN 1
        |         ELSE 0 END AS brk
        |  FROM d),
        |sh AS (
        |  SELECT doc_id, frame_no,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot
        |  FROM k),
        |sl AS (
        |  SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS len
        |  FROM sh GROUP BY doc_id, shot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots,
        |  CAST(max(len) AS BIGINT) AS longest_shot,
        |  CAST(sum(len) AS BIGINT) AS n_frames
        |FROM sl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // day totals first, then the numeric RANGE frame over epoch-days
    "qz23_trailing_window" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |      AS v_day,
        |    CAST(count(*) AS BIGINT) AS n_day
        |  FROM events GROUP BY user_id, d)
        |SELECT user_id, d, v_day, n_day,
        |  CAST(sum(v_day) OVER w AS BIGINT) AS v_7d,
        |  CAST(sum(n_day) OVER w AS BIGINT) AS n_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY d
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, d""".stripMargin,

    // six exact sums, one row of double arithmetic per source
    "qx71_meta_corr" ->
      """WITH m AS (
        |  SELECT source, n_chars AS x,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM m GROUP BY source)
        |SELECT source, n, sx, sy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |  THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |  END AS r
        |FROM a ORDER BY source""".stripMargin,

    // (source, term) rollup then a source-keyed hapax fold
    "qx70_hapax_rate" ->
      """WITH tc AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY source, term),
        |p AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax,
        |    CAST(sum(c) AS BIGINT) AS n_tokens
        |  FROM tc GROUP BY source)
        |SELECT source, n_terms, n_hapax, n_tokens,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_terms AS DOUBLE)
        |    AS hapax_frac
        |FROM p ORDER BY source""".stripMargin,

    // sources×langs rollup, then a rational Simpson index per source
    "qz22_source_diversity" ->
      """WITH cl AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, lang),
        |p AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS n_langs,
        |         CAST(max(c) AS BIGINT) AS top_c,
        |         CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM cl GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  1.0 - CAST(ss AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)
        |    AS simpson,
        |  CAST(top_c AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share
        |FROM p ORDER BY source""".stripMargin,

    // qx6's scoring CTE with the declared lang carried through
    "qx68_lang_mismatch" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> list_contains(['der','die','und','das','ist'], t))) AS s_de,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a'], t))) AS s_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
        |    len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) AS s_fr,
        |    len(list_filter(toks, t -> list_contains(['的','是','不','了','在'], t))) AS s_zh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |        FROM documents)),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |         WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |         ELSE 'zh' END AS pred
        |  FROM sc)
        |SELECT doc_id, lang, pred, pred = lang AS agree
        |FROM p ORDER BY doc_id""".stripMargin,

    // one lead window per user in strict (ts, event_id) order, then a
    // types²-bounded rollup; p is one division over exact BIGINTs
    "qz18_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL
        |  GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |        FROM tr GROUP BY from_type)
        |SELECT t.from_type, t.to_type, t.n,
        |       CAST(t.n AS DOUBLE) / CAST(o.tot AS DOUBLE) AS p
        |FROM tr t JOIN tot o USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // key-count rollup, one-row totals, top-10 by load
    "qz19_key_skew" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT user_id, n AS n_events,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  CAST(n * n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew
        |FROM c CROSS JOIN s
        |ORDER BY n_events DESC, user_id
        |LIMIT 10""".stripMargin,

    // qe14's round-9 centroid staging, member cosine carried to vec_id
    // grain, ascending per-label top-5
    "qe23_centroid_outliers" ->
      s"""WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, round(avg(v), 9) + 0.0E0 AS cv
        |  FROM dims GROUP BY label, pos),
        |cvec AS (SELECT label, list(cv ORDER BY pos) AS cvec
        |         FROM cent GROUP BY label),
        |mem AS (
        |  SELECT e.label, e.vec_id,
        |         ${cosSql("e.embedding", "c.cvec")} AS cos
        |  FROM embeddings e JOIN cvec c USING (label))
        |SELECT label, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       vec_id, cos
        |FROM mem
        |WINDOW w AS (PARTITION BY label ORDER BY cos, vec_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY label, rank""".stripMargin,

    // the same centroids, upper-triangle pairwise cosine
    "qe24_label_affinity" ->
      s"""WITH dims AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, pos, round(avg(v), 9) + 0.0E0 AS cv
        |  FROM dims GROUP BY label, pos),
        |cvec AS (SELECT label, list(cv ORDER BY pos) AS cvec
        |         FROM cent GROUP BY label)
        |SELECT a.label AS la, b.label AS lb,
        |       ${cosSql("a.cvec", "b.cvec")} AS cos
        |FROM cvec a JOIN cvec b ON a.label < b.label
        |ORDER BY la, lb""".stripMargin,

    // qm5's frame/byte-vector staging plus a per-asset lag; the L1
    // delta folds over the shared prefix of consecutive frames
    "qm6_frame_delta" ->
      """WITH f AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    unnest(range(greatest(strlen(text) // 64, 1))) AS i
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
        |    substr(hx, CAST(i*128 + 1 AS INT), 32) AS fh
        |  FROM f),
        |h AS (
        |  SELECT doc_id, frame_no,
        |    list_transform(range(1, length(fh) // 2 + 1),
        |      b -> CAST((strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF',
        |             substr(fh, CAST(b*2 AS INT), 1)) - 1) AS BIGINT))
        |      AS bv
        |  FROM g),
        |p AS (
        |  SELECT doc_id, frame_no, bv,
        |    lag(bv) OVER (PARTITION BY doc_id ORDER BY frame_no) AS pv
        |  FROM h),
        |q AS (
        |  SELECT doc_id, frame_no,
        |    CAST(least(len(bv), len(pv)) AS BIGINT) AS n_cmp,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, least(len(bv), len(pv)) + 1),
        |        j -> abs(bv[j] - pv[j]))),
        |      (a, x) -> a + x) AS BIGINT) AS delta_l1
        |  FROM p WHERE pv IS NOT NULL)
        |SELECT doc_id, frame_no, n_cmp, delta_l1,
        |  CAST(delta_l1 AS DOUBLE) / CAST(n_cmp AS DOUBLE) AS mean_delta
        |FROM q
        |ORDER BY doc_id, frame_no""".stripMargin,

    // qx11's cluster chain (for is_dup) ⊕ qz6's quality CTE ⊕ the
    // qx18-style bounded-domain decile thresholds
    "qz12_decile_dup_lift" -> (ShingleCte +
      s""",
        |fpt AS (
        |  SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
        |  FROM tok WHERE len(toks) >= 3),
        |rep AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY fp),
        |docrep AS (
        |  SELECT f.doc_id, r.rep FROM fpt f JOIN rep r USING (fp)),
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh WHERE doc_id IN (SELECT rep FROM rep)),
        |bnd AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM bnd
        |  WHERE band IN (SELECT band FROM bnd GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |e AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM e UNION SELECT d2 FROM e) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = e.d1 THEN e.d2 ELSE e.d1 END, r.label
        |  FROM reach r JOIN e ON r.node = e.d1 OR r.node = e.d2),
        |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |expand AS (
        |  SELECT dr.doc_id, coalesce(cc.cluster, dr.rep) AS cluster
        |  FROM docrep dr LEFT JOIN cc ON dr.rep = cc.node),
        |clus AS (
        |  SELECT d.doc_id, coalesce(x.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN expand x ON d.doc_id = x.doc_id),
        |csz AS (SELECT cluster, count(*) AS n FROM clus GROUP BY cluster),
        |mhf AS (
        |  SELECT c.doc_id, (z.n > 1) AS is_dup
        |  FROM clus c JOIN csz z USING (cluster)),
        |qs AS (
        |  SELECT doc_id,
        |    (CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x)))
        |        + len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x)))
        |        + len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x)))
        |        + len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x)))
        |        + len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x)))
        |      AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 100.0
        |    + CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE)
        |    + CAST(n_chars AS DOUBLE) / 1000.0 AS score
        |  FROM tok),
        |sqv AS (
        |  SELECT doc_id, CAST(floor(score * 1000.0E0) AS BIGINT) AS sq
        |  FROM qs),
        |hist AS (SELECT sq, count(*) AS c FROM sqv GROUP BY sq),
        |cum AS (
        |  SELECT sq, sum(c) OVER (ORDER BY sq ROWS UNBOUNDED PRECEDING)
        |    AS cum
        |  FROM hist),
        |tot AS (SELECT count(*) AS total FROM sqv),
        |thr AS (
        |  SELECT min(CASE WHEN cum * 10 >= total * 1 THEN sq END) AS t1,
        |         min(CASE WHEN cum * 10 >= total * 2 THEN sq END) AS t2,
        |         min(CASE WHEN cum * 10 >= total * 3 THEN sq END) AS t3,
        |         min(CASE WHEN cum * 10 >= total * 4 THEN sq END) AS t4,
        |         min(CASE WHEN cum * 10 >= total * 5 THEN sq END) AS t5,
        |         min(CASE WHEN cum * 10 >= total * 6 THEN sq END) AS t6,
        |         min(CASE WHEN cum * 10 >= total * 7 THEN sq END) AS t7,
        |         min(CASE WHEN cum * 10 >= total * 8 THEN sq END) AS t8,
        |         min(CASE WHEN cum * 10 >= total * 9 THEN sq END) AS t9
        |  FROM cum CROSS JOIN tot),
        |dec AS (
        |  SELECT s.doc_id, CAST(
        |      (CASE WHEN s.sq >= thr.t1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN s.sq >= thr.t9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS decile
        |  FROM sqv s CROSS JOIN thr)
        |SELECT d.decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN m.is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(sum(CASE WHEN m.is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_rate
        |FROM dec d JOIN mhf m USING (doc_id)
        |GROUP BY d.decile
        |ORDER BY d.decile""".stripMargin).replace("WITH tok AS",
      "WITH RECURSIVE tok AS"),

    // the qx55 edge chain + 5 unrolled integer power steps (// is
    // DuckDB integer division, matching Spark's `div`)
    "qz8_dupgraph_pagerank" -> (ShingleCte +
      s""",
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh),
        |b AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM b
        |  WHERE band IN (SELECT band FROM b GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |ed AS (
        |  SELECT src, dst FROM (
        |    SELECT d1 AS src, d2 AS dst FROM p
        |    UNION ALL SELECT d2 AS src, d1 AS dst FROM p) u),
        |deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg
        |  FROM ed GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |p0 AS (
        |  SELECT d.src AS doc_id, d.deg, nn.n,
        |         CAST(1000000000 AS BIGINT) // nn.n AS pr_n
        |  FROM deg d CROSS JOIN nn)""".stripMargin +
      (1 to 5).map { k =>
        s""",
          |i$k AS (
          |  SELECT e.dst AS doc_id,
          |         CAST(sum(p.pr_n // p.deg) AS BIGINT) AS s
          |  FROM ed e JOIN p${k - 1} p ON e.src = p.doc_id
          |  GROUP BY e.dst),
          |p$k AS (
          |  SELECT p.doc_id, p.deg, p.n,
          |         (150000000 // p.n) +
          |         ((17 * coalesce(i.s, CAST(0 AS BIGINT))) // 20) AS pr_n
          |  FROM p${k - 1} p LEFT JOIN i$k i USING (doc_id))"""
          .stripMargin
      }.mkString +
      "\nSELECT doc_id, deg, pr_n FROM p5 ORDER BY doc_id"),

    // byte-exact for any corpus: synthMedia's bytes are UTF-8(text),
    // DuckDB md5(VARCHAR) hashes the string's UTF-8 bytes, and strlen
    // is BYTE length — all three agree on multi-byte text, no ASCII
    // assumption
    "qm3_blob_dedup" ->
      """SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS n_copies,
        |       min(doc_id) AS keeper,
        |       CAST(min(strlen(text)) AS BIGINT) AS nbytes,
        |       CAST((count(*) - 1) * min(strlen(text)) AS BIGINT)
        |         AS wasted_bytes
        |FROM documents GROUP BY fp ORDER BY fp""".stripMargin,

    "qe15_mrl_recall" -> {
      def cosP(a: String, b: String) = cosSql(a, b)
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding FROM embeddings
         |  WHERE vec_id < 20),
         |full10 AS (
         |  SELECT q.q_id, e.vec_id AS n_id
         |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
         |  QUALIFY row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY ${cosP("q.embedding", "e.embedding")} DESC,
         |      e.vec_id) <= 10),
         |d8 AS (
         |  SELECT q.q_id, e.vec_id AS n_id
         |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
         |  QUALIFY row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY ${cosP("q.embedding[1:8]", "e.embedding[1:8]")} DESC,
         |      e.vec_id) <= 10),
         |d16 AS (
         |  SELECT q.q_id, e.vec_id AS n_id
         |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
         |  QUALIFY row_number() OVER (PARTITION BY q.q_id
         |    ORDER BY ${cosP("q.embedding[1:16]", "e.embedding[1:16]")} DESC,
         |      e.vec_id) <= 10),
         |r8 AS (
         |  SELECT q_id, CAST(count(*) AS DOUBLE) / 10.0E0 AS r
         |  FROM full10 JOIN d8 USING (q_id, n_id) GROUP BY q_id),
         |r16 AS (
         |  SELECT q_id, CAST(count(*) AS DOUBLE) / 10.0E0 AS r
         |  FROM full10 JOIN d16 USING (q_id, n_id) GROUP BY q_id)
         |SELECT p.q_id,
         |       coalesce(r8.r, 0.0E0) AS recall_d8,
         |       coalesce(r16.r, 0.0E0) AS recall_d16
         |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 20) p
         |LEFT JOIN r8 USING (q_id)
         |LEFT JOIN r16 USING (q_id)
         |ORDER BY q_id""".stripMargin
    },

    "qx17_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |r AS (
        |  SELECT lang, fp,
        |    row_number() OVER (PARTITION BY lang ORDER BY fp) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS nd
        |  FROM h)
        |SELECT lang, CAST(max(nd) AS BIGINT) AS n_exact,
        |  CASE WHEN max(nd) < 32 THEN CAST(max(nd) AS DOUBLE)
        |    ELSE 31.0E0 * 4503599627370496.0E0 / CAST(
        |      max(CASE WHEN rn = 32 THEN list_reduce(
        |        list_transform(range(1, 14),
        |          i -> CAST(strpos('0123456789abcdef',
        |            substr(fp, CAST(i AS INT), 1)) - 1 AS BIGINT)),
        |        (a, b) -> a * 16 + b) END) AS DOUBLE)
        |  END AS est
        |FROM r
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "qp1_curation_pipeline" -> (ShingleCte +
      s""",
        |fpt AS (
        |  SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp
        |  FROM tok WHERE len(toks) >= 3),
        |rep AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY fp),
        |docrep AS (
        |  SELECT f.doc_id, r.rep FROM fpt f JOIN rep r USING (fp)),
        |sig AS (
        |  SELECT doc_id,
        |    list_min(list_transform(s, x -> md5('0:' || x))) AS h0,
        |    list_min(list_transform(s, x -> md5('1:' || x))) AS h1,
        |    list_min(list_transform(s, x -> md5('2:' || x))) AS h2,
        |    list_min(list_transform(s, x -> md5('3:' || x))) AS h3
        |  FROM sh WHERE doc_id IN (SELECT rep FROM rep)),
        |bnd AS (
        |  SELECT doc_id, h0 AS band FROM sig
        |  UNION ALL SELECT doc_id, h1 FROM sig
        |  UNION ALL SELECT doc_id, h2 FROM sig
        |  UNION ALL SELECT doc_id, h3 FROM sig),
        |small AS (
        |  SELECT doc_id, band FROM bnd
        |  WHERE band IN (SELECT band FROM bnd GROUP BY band
        |                 HAVING count(*) <= ${Dedup.DefaultBandCap})),
        |e AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM small a JOIN small c
        |    ON a.band = c.band AND a.doc_id < c.doc_id),
        |reach(node, label) AS (
        |  SELECT d, d FROM (SELECT d1 AS d FROM e UNION SELECT d2 FROM e) t(d)
        |  UNION
        |  SELECT CASE WHEN r.node = e.d1 THEN e.d2 ELSE e.d1 END, r.label
        |  FROM reach r JOIN e ON r.node = e.d1 OR r.node = e.d2),
        |cc AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node),
        |expand AS (
        |  SELECT dr.doc_id, coalesce(cc.cluster, dr.rep) AS cluster
        |  FROM docrep dr LEFT JOIN cc ON dr.rep = cc.node),
        |qm AS (
        |  SELECT doc_id,
        |    stop_ratio * 100.0 + avg_wlen + CAST(n_chars AS DOUBLE) / 1000.0
        |      AS score
        |  FROM (
        |    SELECT doc_id, n_chars,
        |      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) AS avg_wlen,
        |      CAST(len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x)))
        |         + len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x)))
        |         + len(list_filter(toks, x -> list_contains(['el','la','de','que','y'], x)))
        |         + len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x)))
        |         + len(list_filter(toks, x -> list_contains(['的','是','不','了','在'], x)))
        |        AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio
        |    FROM tok)),
        |t2 AS (
        |  SELECT doc_id, len(toks) AS n_toks, t, count(*) AS c
        |  FROM (SELECT doc_id, toks, unnest(toks) AS t FROM tok)
        |  GROUP BY doc_id, len(toks), t),
        |tt AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(n_toks AS DOUBLE)
        |    AS top_term_ratio
        |  FROM t2 GROUP BY doc_id, n_toks),
        |b2 AS (
        |  SELECT doc_id, n_bi, g, count(*) AS c
        |  FROM (
        |    SELECT doc_id, len(toks) - 1 AS n_bi,
        |      unnest(list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2])) AS g
        |    FROM tok WHERE len(toks) >= 2)
        |  GROUP BY doc_id, n_bi, g),
        |bt AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(n_bi AS DOUBLE)
        |    AS top_bigram_ratio
        |  FROM b2 GROUP BY doc_id, n_bi),
        |probe AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)),
        |corp AS (
        |  SELECT doc_id, unnest(list_distinct(s)) AS g
        |  FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT corp.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM corp JOIN probe USING (g) GROUP BY corp.doc_id),
        |verdict AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.doc_id % 97 = 0 THEN 'benchmark'
        |         WHEN qm.score < 6.5 THEN 'quality'
        |         WHEN COALESCE(tt.top_term_ratio, 0.0) > 0.2 OR
        |              COALESCE(bt.top_bigram_ratio, 0.0) > 0.18
        |           THEN 'repetition'
        |         WHEN NOT (COALESCE(x.cluster, d.doc_id) = d.doc_id)
        |           THEN 'near_dup'
        |         WHEN COALESCE(h.n_shared, 0) >= 1 THEN 'contaminated'
        |         WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) >=
        |              CASE WHEN d.lang = 'en' THEN '40000000'
        |                   WHEN d.lang = 'zh' THEN '80000000'
        |                   ELSE 'c0000000' END THEN 'sampled_out'
        |    END AS drop_reason
        |  FROM documents d
        |  LEFT JOIN qm ON d.doc_id = qm.doc_id
        |  LEFT JOIN tt ON d.doc_id = tt.doc_id
        |  LEFT JOIN bt ON d.doc_id = bt.doc_id
        |  LEFT JOIN expand x ON d.doc_id = x.doc_id
        |  LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT doc_id, drop_reason IS NULL AS kept, drop_reason
        |FROM verdict ORDER BY doc_id""".stripMargin).replace(
      "WITH tok AS", "WITH RECURSIVE tok AS"))
}
