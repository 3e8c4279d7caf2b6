package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Last
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Marks a join as DuckDB's ASOF JOIN. Spark's grammar has no ASOF, so
  * the dialect shim spells `ASOF [LEFT] JOIN r ON c` as `[LEFT] JOIN r
  * ON graft_asof() AND c`, and [[DuckAsOfRule]] replaces the marked
  * join. An escaped marker (one not a top-level conjunct of an inner or
  * left join's ON) fails with a message that names it. */
case class AsOfMarker() extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = AsOfMarker.Name
  override def eval(input: InternalRow): Any = throw new UnsupportedOperationException(
    s"$sql marks an ASOF JOIN and is only valid as a top-level conjunct of a join's ON")
}

object AsOfMarker {
  val Name = "graft_asof"
}

/** Resolution rule for DuckDB's ASOF JOIN. On a resolved Inner or
  * LeftOuter Join whose ON holds [[AsOfMarker]] as a top-level conjunct,
  * the other conjuncts must be `=` equalities plus exactly one
  * inequality, each with one side over the left relation's attributes
  * and the other over the right's (sides are told apart by attribute
  * set, so qualification, derived tables and multi-join left sides need
  * nothing special). For each left row the join keeps the right row of
  * equal keys whose ordering value is nearest on the inequality's side.
  *
  * The plan is the merge formulation, one shuffle by key and one sort:
  *
  *  - `Union` of the left rows (their own columns, the keys, the
  *    ordering value `t`, `__left` = true and a typed NULL struct) and
  *    the right rows with non-NULL keys and `t` (NULLs for the left's
  *    columns, `__left` = false, and `struct(right.output)`);
  *  - `Window`: `last(struct, ignoreNulls)` over `PARTITION BY keys
  *    ORDER BY t <dir> NULLS FIRST, __left <tie>`, ROWS UNBOUNDED
  *    PRECEDING..CURRENT ROW;
  *  - `Filter`: the left rows, and for an inner join only the matched;
  *  - `Project`: the left's columns, and the right's re-aliased from the
  *    struct's fields with their own exprIds, so the plan above still
  *    resolves.
  *
  * Direction, with the left operand on the left:
  *
  * | inequality | order | at equal t   |
  * |------------|-------|--------------|
  * | `>=`       | ASC   | right first  |
  * | `>`        | ASC   | left first   |
  * | `<=`       | DESC  | right first  |
  * | `<`        | DESC  | left first   |
  *
  * NULL semantics are 3VL: a left row with a NULL key or ordering value
  * matches nothing in any direction (NULLS FIRST puts a NULL `t` before
  * every right row, also under DESC, where the default would put it
  * last). DuckDB 1.0 gives NULL ordering values implementation-defined
  * matches instead (FUZZ_NOTES class #5). Ties among right rows of equal
  * key and `t` pick one of them, as DuckDB's ASOF does.
  *
  * Spark's own `AsOfJoin` is not used: its rewrite plans a correlated
  * min_by that decorrelates to a BroadcastNestedLoopJoin over the
  * ordering-value domain. The rule is pruned by tree pattern: a plan
  * without a Join pays one bit test. */
object DuckAsOfRule extends Rule[LogicalPlan] with PredicateHelper {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(JOIN)) {
      case j @ Join(left, right, joinType, Some(cond), _)
          if j.resolved && cond.exists(_.isInstanceOf[AsOfMarker]) =>
        val conjuncts = splitConjunctivePredicates(cond)
        require(conjuncts.contains(AsOfMarker()) && (joinType == Inner || joinType == LeftOuter),
          "ASOF: the ON clause must be an AND of `=` equalities and one inequality " +
            "under ASOF [LEFT] JOIN")
        val cmps = conjuncts.filterNot(_ == AsOfMarker()).map {
          case c: BinaryComparison if !c.isInstanceOf[EqualNullSafe] => c
          case c => throw new IllegalArgumentException(
            s"ASOF: ON conjuncts must be `=` equalities plus one inequality, got: ${c.sql}")
        }
        val (eqs, ineqs) = cmps.partition(_.isInstanceOf[EqualTo])
        require(ineqs.size == 1, s"ASOF: expected exactly one inequality in ON, found ${ineqs.size}")
        merge(left, right, eqs.map(sides(left, right, "equality")),
          sides(left, right, "inequality")(ineqs.head), outer = joinType == LeftOuter)
    }

  /** A comparison as (left operand, right operand, operator) with the
    * left relation's operand on the left. */
  private def sides(left: LogicalPlan, right: LogicalPlan, what: String)(
      c: BinaryComparison): (Expression, Expression, String) = {
    def over(p: LogicalPlan, e: Expression) = e.references.nonEmpty && e.references.subsetOf(p.outputSet)
    if (over(left, c.left) && over(right, c.right)) (c.left, c.right, c.symbol)
    else if (over(right, c.left) && over(left, c.right))
      (c.right, c.left, c.symbol.map { case '<' => '>'; case '>' => '<'; case ch => ch })
    else throw new IllegalArgumentException(s"ASOF: exactly one side of each $what must " +
      s"reference the joined table, and the other the relation before ASOF: ${c.sql}")
  }

  private def merge(left: LogicalPlan, right: LogicalPlan,
      keys: Seq[(Expression, Expression, String)],
      ineq: (Expression, Expression, String), outer: Boolean): LogicalPlan = {
    val (lt, rt, op) = ineq
    val struct = CreateNamedStruct(
      right.output.zipWithIndex.flatMap { case (a, i) => Seq(Literal(s"c$i"), a) })
    def branch(cols: Seq[NamedExpression], ks: Seq[Expression], t: Expression, isLeft: Boolean,
        carried: Expression, child: LogicalPlan) =
      Project(cols ++ ks.map(Alias(_, "__k")()) ++ Seq(Alias(t, "__t")(),
        Alias(Literal(isLeft), "__left")(), Alias(carried, "__right")()), child)
    val u = Union(
      branch(left.output, keys.map(_._1), lt, isLeft = true, Literal(null, struct.dataType), left),
      branch(left.output.map(a => Alias(Literal(null, a.dataType), a.name)()), keys.map(_._2), rt,
        isLeft = false, struct,
        Filter((keys.map(_._2) :+ rt).map(IsNotNull).reduce[Expression](And), right)))
    val (ks, Seq(t, isLeft, carried)) = u.output.drop(left.output.size).splitAt(keys.size)
    val order = Seq(
      SortOrder(t, if (op.startsWith(">")) Ascending else Descending, NullsFirst, Seq.empty),
      SortOrder(isLeft, if (op.endsWith("=")) Ascending else Descending))
    val m = Alias(WindowExpression(Last(carried, ignoreNulls = true).toAggregateExpression(),
      WindowSpecDefinition(ks, order,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), "__match")()
    val matched = if (outer) isLeft else And(isLeft, IsNotNull(m.toAttribute))
    Project(left.output ++ right.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(m.toAttribute, i), a.name)(a.exprId, a.qualifier, Some(a.metadata))
    }, Filter(matched, Window(Seq(m), ks, order, u)))
  }
}
