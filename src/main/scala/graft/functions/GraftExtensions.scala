package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering the engine's custom Catalyst
  * expressions as SQL functions, so the SELECT-only gateway surface
  * (SqlGateway / spark.sql) can call them by name — the Spark-native
  * realization of the reference's "custom functions" roadmap item
  * (/root/reference/README.md:112).
  *
  * Usage: every session comes from engine.Session.local, which installs
  * these extensions (the test session injects them the same way).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.dotProduct)
    e.injectFunction(GraftExtensions.cosineSim)
    e.injectFunction(GraftExtensions.kllSketchAgg)
    e.injectFunction(GraftExtensions.kllMergeAgg)
    e.injectFunction(GraftExtensions.kllQuantile)
    e.injectFunction(GraftExtensions.scriptCounts)
    e.injectFunction(GraftExtensions.bpeTokenCount)
    e.injectFunction(GraftExtensions.freqSketchAgg)
    e.injectFunction(GraftExtensions.freqMergeAgg)
    e.injectFunction(GraftExtensions.freqEstimate)
    e.injectFunction(GraftExtensions.freqLower)
    e.injectFunction(GraftExtensions.freqUpper)
    e.injectFunction(GraftExtensions.duckDiv)
    e.injectFunction(GraftExtensions.duckLen)
    e.injectFunction(GraftExtensions.arrayLength)
    // `div` (the shim's image of DuckDB `//`) gets DuckDB's measured
    // type-aware semantics — see [[DuckDiv]] for the contract
    e.injectResolutionRule(_ => DuckDivRule)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val dotProduct: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    info("dot_product", "dot_product(a, b) - double dot product of two float/double arrays"),
    (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1)))

  val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    info("cosine_sim", "cosine_sim(a, b) - fused cosine similarity of two float/double arrays"),
    (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)))

  val kllSketchAgg: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kll_sketch_agg"),
    info("kll_sketch_agg", "kll_sketch_agg(v) - mergeable KLL quantile sketch of a double column (binary image)"),
    (exprs: Seq[Expression]) => KllSketchAgg(exprs.head))

  val kllMergeAgg: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kll_merge_agg"),
    info("kll_merge_agg", "kll_merge_agg(sk) - union of serialized KLL sketch images (binary image)"),
    (exprs: Seq[Expression]) => KllMergeAgg(exprs.head))

  val kllQuantile: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("kll_sketch_quantile"),
    info("kll_sketch_quantile", "kll_sketch_quantile(sk, p) - quantile estimate from a KLL sketch image"),
    (exprs: Seq[Expression]) => KllQuantile(exprs(0), exprs(1)))

  val scriptCounts: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("script_counts"),
    info("script_counts", "script_counts(s) - [codepoints, latin, digits, cjk, spaces] in one pass"),
    (exprs: Seq[Expression]) => ScriptCounts(exprs.head))

  val bpeTokenCount: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_token_count"),
    info("bpe_token_count", "bpe_token_count(s) - GPT-2-ish pre-tokenizer match count in one byte walk"),
    (exprs: Seq[Expression]) => BpeTokenCount(exprs.head))

  val freqSketchAgg: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_sketch_agg"),
    info("freq_sketch_agg", "freq_sketch_agg(v) - mergeable frequency (heavy-hitter) sketch of a bigint column"),
    (exprs: Seq[Expression]) => FreqSketchAgg(exprs.head))

  val freqMergeAgg: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_merge_agg"),
    info("freq_merge_agg", "freq_merge_agg(sk) - union of serialized frequency sketch images"),
    (exprs: Seq[Expression]) => FreqMergeAgg(exprs.head))

  val freqEstimate: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_sketch_estimate"),
    info("freq_sketch_estimate", "freq_sketch_estimate(sk, item) - frequency estimate for an item"),
    (exprs: Seq[Expression]) => FreqEstimate(exprs(0), exprs(1)))

  val freqLower: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_sketch_lower"),
    info("freq_sketch_lower", "freq_sketch_lower(sk, item) - deterministic Misra-Gries lower bound"),
    (exprs: Seq[Expression]) => FreqLowerBound(exprs(0), exprs(1)))

  val freqUpper: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("freq_sketch_upper"),
    info("freq_sketch_upper", "freq_sketch_upper(sk, item) - deterministic Misra-Gries upper bound"),
    (exprs: Seq[Expression]) => FreqUpperBound(exprs(0), exprs(1)))

  val duckDiv: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("duck_div"),
    info("duck_div", "duck_div(a, b) - DuckDB // semantics: truncating int division / plain float division, 0 divisor -> NULL"),
    (exprs: Seq[Expression]) => DuckDiv(exprs(0), exprs(1)))

  val duckLen: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("len"),
    info("len", "len(x) - DuckDB len: chars of a string, bytes of a blob, elements of a list (BIGINT)"),
    (exprs: Seq[Expression]) => { require(exprs.size == 1, "len takes 1 argument"); DuckLen(exprs.head) })

  val arrayLength: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_length"),
    info("array_length", "array_length(l) - DuckDB array_length: element count of a list (BIGINT)"),
    (exprs: Seq[Expression]) => { require(exprs.size == 1, "array_length takes 1 argument"); DuckLen(exprs.head) })
}
