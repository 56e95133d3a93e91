package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.meos.NativeExpressions
import graft.meos.NativeExpressions.literalInt

/** Deployment entry point: install the engine's native SQL functions via
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) — no driver code needed.
  * The trip codec (WKB/HexWKB encode and decode, WKT print, value-at) is
  * injected from [[graft.meos.NativeExpressions.codecFunctions]], the same
  * native builders [[graft.meos.MeosFunctions.register]] binds per session;
  * the rest of the MEOS surface there (parse, MF-JSON, boxes, the legacy
  * WKB layout) is still UDF-backed and registers only per session (UDFs
  * bind to a session registry, not the extension injection point).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("tgeompoint_parse"),
      info("tgeompoint_parse",
        "tgeompoint_parse(wkt) - parse MEOS temporal-point WKT to a struct"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.TGeompointParseExpr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("float_dot"),
      info("float_dot",
        "float_dot(a, b) - allocation-free double dot product of float arrays"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.FloatDotExpr(exprs.head, exprs(1))))
    // the trip codec (WKB/HexWKB encode and decode, WKT print, value-at)
    // under its MEOS names — the same builders MeosFunctions.register binds
    NativeExpressions.codecFunctions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }
    e.injectFunction((
      FunctionIdentifier("float_l2sq"),
      info("float_l2sq",
        "float_l2sq(a, b) - allocation-free squared L2 distance of float arrays"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.FloatL2Expr(exprs.head, exprs(1))))
    // text-dedup kernels — the [EXT] family's native expressions under
    // SQL names, so `spark.sql("SELECT shingle_hashes(toks, 13) ...")`
    // works in an extensions-configured session with no Scala imports.
    // Int parameters arrive as foldable literals and are evaluated at
    // registration (the kernels take them as constructor params); a
    // column there fails with literalInt's readable message.
    e.injectFunction((
      FunctionIdentifier("minhash_bands"),
      info("minhash_bands",
        "minhash_bands(shingles, bands) - seeded-md5 minhash band keys"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.MinhashBandsExpr(exprs.head, literalInt(exprs(1)))))
    e.injectFunction((
      FunctionIdentifier("minhash_shingle_bands"),
      info("minhash_shingle_bands",
        "minhash_shingle_bands(toks, k, bands) - fused k-shingle + minhash bands"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.MinhashShingleBandsExpr(exprs.head,
          literalInt(exprs(1)), literalInt(exprs(2)))))
    e.injectFunction((
      FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(toks, k) - 60-bit md5 key of every k-gram"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.ShingleHashesExpr(exprs.head, literalInt(exprs(1)))))
    e.injectFunction((
      FunctionIdentifier("simhash32"),
      info("simhash32",
        "simhash32(token_md5s) - one-pass 32-bit simhash bit string"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.Simhash32Expr(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("token_entropy"),
      info("token_entropy",
        "token_entropy(toks) - one-pass Shannon entropy of a token array"),
      (exprs: Seq[Expression]) =>
        NativeExpressions.TokenEntropyExpr(exprs.head)))
    // interval-overlap theta joins (the SQL spelling of J2) become bucketed
    // equi-joins instead of nested-loop joins — see OverlapJoinRule
    e.injectOptimizerRule(_ => graft.plans.OverlapJoinRule)
  }
}
