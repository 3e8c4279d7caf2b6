package graft.ops

import graft.functions.AsOfMarker
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, GreaterThanOrEqual}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

/** Distributed as-of join (DuckDB `ASOF JOIN`; SURVEY.md §2 "Joins"):
  * for each left row, the most recent right row of the same key with
  * rightTime <= leftTime. A front end over [[graft.functions.DuckAsOfRule]]:
  * it builds the marked join SQL's `ASOF LEFT JOIN` becomes, over the
  * right's key, time and payload columns, so every payload comes from
  * ONE matched row (one struct in the merge window, whatever the width).
  * The join is a logical plan: `Dataset.join`'s self-join check assumes
  * the analyzed plan is still a Join.
  *
  * Output: the left columns, then each payload under its output name. */
object AsOf {

  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightValue: String, outName: String): DataFrame =
    asofJoinCols(left, right, leftKey, rightKey, leftTime, rightTime,
      Seq(rightValue -> outName))

  /** Multi-payload as-of join: each `(rightColumn, outputName)` pair is
    * carried from the matched right row. */
  def asofJoinCols(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      payload: Seq[(String, String)]): DataFrame = {
    require(payload.nonEmpty, "asofJoinCols: at least one payload column")
    val l = left.queryExecution.analyzed
    // fresh attributes throughout, so `r` never shares one with `l`
    val r = right.select(col(rightKey).as("k") +: col(rightTime).as("t") +:
      payload.map { case (c, out) => col(c).as(out) }: _*).queryExecution.analyzed
    def attr(name: String) = l.resolveQuoted(name, SQLConf.get.resolver).getOrElse(
      throw new IllegalArgumentException(s"asofJoinCols: no left column $name"))
    val on = And(AsOfMarker(), And(EqualTo(attr(leftKey), r.output(0)),
      GreaterThanOrEqual(attr(leftTime), r.output(1))))
    val joined = GraftShim.ofRows(left.sparkSession, Join(l, r, LeftOuter, Some(on), JoinHint.NONE))
    // drop r's key and time, which follow the left columns
    joined.select(joined.queryExecution.analyzed.output.patch(l.output.size, Nil, 2)
      .map(GraftShim.column): _*)
  }
}
