package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skewed-join mitigation. The assembly aggregate
  * (Assembly.tpointAssembleByKey) needs no salt: each map task folds its
  * share of a hot key into one run before the exchange. A join has no
  * such map-side combine: when one join key carries a disproportionate
  * share of the fact rows, a plain hash-partitioned equi-join funnels
  * that key's entire fact slice through one task.
  *
  * Two production answers, both demonstrated in this repo:
  *
  *  1. **AQE skew-join split** (preferred when it applies): with
  *     `spark.sql.adaptive.skewJoin.enabled` (default on), a sort-merge
  *     join whose post-shuffle partition exceeds the skew threshold is
  *     split at runtime into sub-partitions, each joined against a
  *     duplicated copy of the other side's matching partition — no code
  *     change, no semantics change. Round10Spec pins that the split
  *     actually ENGAGES on a planted hot-key fixture (the plan's final
  *     AQEShuffleRead reports skewed sub-partitions).
  *
  *  2. **Explicit salting** (this helper): works for every FACT-PRESERVING
  *     join type (inner / left_outer / left_semi / left_anti — enforced
  *     by a require below; the dim side is replicated × s, so dim-
  *     preserving outer types would emit each unmatched dim row s times)
  *     and engine version, and composes with aggregations the optimizer
  *     can't split. This is not hypothetical — OptimizeSkewedJoin
  *     pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)), so
  *     a dim produced by an aggregate (Sort → HashAggregate → shuffle)
  *     opts the join out of the automatic split entirely (measured in
  *     SkewProbe: skewRead=false with a rollup dim, true with a plain
  *     one). When the dim side is itself derived, salt. The fact side's key is widened with a deterministic
  *     salt derived from a row-unique column (`pmod(xxhash64(u), s)` —
  *     uniform, reproducible, no RNG); the dim side is exploded × s, so
  *     the hot key's fact rows spread over s tasks while every fact row
  *     still meets its dim row exactly once. Cost: dim side × s rows
  *     shuffled — the right trade when |dim| ≪ |fact| but dim is too
  *     large (or the join type wrong) to broadcast.
  */
object Skew {

  /** Equi-join `fact ⋈ dim` on `key`, with the fact side spread over
    * `salts` sub-keys. `uniqueCol` must be a fact column that varies
    * within a key group (a row id) — it seeds the salt. For the allowed
    * fact-preserving join types the result equals the unsalted join
    * row-for-row (Round10Spec + the qz26 oracle); right/full outer are
    * rejected because the exploded dim would emit each unmatched dim
    * row `salts` times with null fact columns. */
  private val factPreserving =
    Set("inner", "left", "leftouter", "leftsemi", "leftanti", "semi", "anti")

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 uniqueCol: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    require(factPreserving(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin requires a fact-preserving join type " +
      s"(inner/left_outer/left_semi/left_anti), got '$joinType' — " +
      s"the exploded dim side would duplicate unmatched dim rows")
    val f = fact.withColumn("__salt",
      pmod(xxhash64(col(uniqueCol)), lit(salts.toLong)))
    val d = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    f.join(d, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
