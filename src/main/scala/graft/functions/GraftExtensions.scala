package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering the engine's custom Catalyst
  * expressions as SQL functions, so the SELECT-only gateway surface
  * (SqlGateway / spark.sql) can call them by name — the Spark-native
  * realization of the reference's "custom functions" roadmap item
  * (the reference's README.md:112). It injects two tables built with
  * the one [[GraftExtensions.entry]] helper: the engine's own functions
  * below, and the DuckDB function surface in [[DuckDbFunctions.table]].
  *
  * Usage: every session comes from engine.Session.local, which installs
  * these extensions (the test session injects them the same way).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    (GraftExtensions.functions ++ DuckDbFunctions.table).foreach(e.injectFunction)
    // `div` (the shim's image of DuckDB `//`) gets DuckDB's measured
    // type-aware semantics — see [[DuckDiv]] for the contract
    e.injectResolutionRule(_ => DuckDivRule)
    // GROUPS frames, frame EXCLUDE and DISTINCT window aggregates: the
    // shim marks the spec, the rule computes them — see [[DuckWindowRule]]
    e.injectResolutionRule(_ => DuckWindowRule)
    // ASOF JOIN: the shim marks the join, the rule plans it — see [[DuckAsOfRule]]
    e.injectResolutionRule(_ => DuckAsOfRule)
  }
}

object GraftExtensions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One injectable SQL function: its name, its `DESCRIBE FUNCTION`
    * usage line, and the builder Catalyst calls with the analyzed
    * argument expressions. */
  def entry(name: String, usage: String)(build: Seq[Expression] => Expression): Entry = (
    FunctionIdentifier(name),
    new ExpressionInfo("graft.functions", null, name, usage, "", "", "", "", "", "", "scala_udf"),
    build)

  val functions: Seq[Entry] = Seq(
    entry("dot_product", "dot_product(a, b) - double dot product of two float/double arrays")(
      e => DotProduct(e(0), e(1))),
    entry("cosine_sim", "cosine_sim(a, b) - fused cosine similarity of two float/double arrays")(
      e => CosineSim(e(0), e(1))),
    entry("kll_sketch_agg", "kll_sketch_agg(v) - mergeable KLL quantile sketch of a double column (binary image)")(
      e => KllSketchAgg(e.head)),
    entry("kll_merge_agg", "kll_merge_agg(sk) - union of serialized KLL sketch images (binary image)")(
      e => KllMergeAgg(e.head)),
    entry("kll_sketch_quantile", "kll_sketch_quantile(sk, p) - quantile estimate from a KLL sketch image")(
      e => KllQuantile(e(0), e(1))),
    entry("script_counts", "script_counts(s) - [codepoints, latin, digits, cjk, spaces] in one pass")(
      e => ScriptCounts(e.head)),
    entry("bpe_token_count", "bpe_token_count(s) - GPT-2-ish pre-tokenizer match count in one byte walk")(
      e => BpeTokenCount(e.head)),
    entry("freq_sketch_agg", "freq_sketch_agg(v) - mergeable frequency (heavy-hitter) sketch of a bigint column")(
      e => FreqSketchAgg(e.head)),
    entry("freq_merge_agg", "freq_merge_agg(sk) - union of serialized frequency sketch images")(
      e => FreqMergeAgg(e.head)),
    entry("freq_sketch_estimate", "freq_sketch_estimate(sk, item) - frequency estimate for an item")(
      e => FreqEstimate(e(0), e(1))),
    entry("freq_sketch_lower", "freq_sketch_lower(sk, item) - deterministic Misra-Gries lower bound")(
      e => FreqLowerBound(e(0), e(1))),
    entry("freq_sketch_upper", "freq_sketch_upper(sk, item) - deterministic Misra-Gries upper bound")(
      e => FreqUpperBound(e(0), e(1))),
    entry("duck_div", "duck_div(a, b) - DuckDB // semantics: truncating int division / plain float division, 0 divisor -> NULL")(
      e => DuckDiv(e(0), e(1))),
    entry(GroupsFrame.Name, s"${GroupsFrame.Name}() - marks a GROUPS window frame; valid only first in a window's PARTITION BY")(
      _ => GroupsFrame()),
    entry(FrameExclude.Name, s"${FrameExclude.Name}(kind) - marks a window frame EXCLUDE clause; valid only first in a window's PARTITION BY")(
      FrameExclude.build),
    entry(AsOfMarker.Name, s"${AsOfMarker.Name}() - marks an ASOF JOIN; valid only as a top-level conjunct of a join's ON")(
      _ => AsOfMarker()))
}
