package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.types.{DataType, Decimal, IntegerType, StringType}
import org.apache.spark.unsafe.types.CalendarInterval

/** Marks a window spec whose frame needs [[DuckWindowRule]]: Spark's
  * grammar lacks the frame syntax, so the dialect shim spells the frame
  * in Spark's terms and puts the marker first in the spec's PARTITION
  * BY; the rule gives the frame its meaning and drops the marker.
  *
  * A marker is foldable so that the analyzer leaves it in the partition
  * spec of the logical Window (a non-foldable partition expression is
  * projected below the Window as `_w0`, out of the rule's sight). An
  * escaped marker (one not first in a marked spec's PARTITION BY) is
  * folded by the optimizer, and its `eval` fails with a message that
  * names it. */
abstract class FrameMarker(what: String) extends LeafExpression with CodegenFallback {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def eval(input: InternalRow): Any = throw new UnsupportedOperationException(
    s"$sql marks $what and is only valid first in a window's PARTITION BY")
}

/** An ANSI `GROUPS` frame, which the shim spells `ROWS <bounds>`. */
case class GroupsFrame() extends FrameMarker("a GROUPS window frame") {
  override def prettyName: String = GroupsFrame.Name
}

object GroupsFrame {
  val Name = "graft_groups_frame"
}

/** DuckDB's frame `EXCLUDE <kind>` clause (`kind` is `current row`,
  * `group` or `ties`), which the shim drops from the frame. */
case class FrameExclude(kind: String) extends FrameMarker("a window frame EXCLUDE clause") {
  override def prettyName: String = FrameExclude.Name
  override def sql: String = s"$prettyName('$kind')"
  override def toString: String = sql
}

object FrameExclude {
  val Name = "graft_frame_exclude"
  val Kinds = Seq("current row", "group", "ties")

  def build(args: Seq[Expression]): FrameExclude = args match {
    case Seq(k) if k.foldable && k.dataType.isInstanceOf[StringType] &&
        Kinds.contains(String.valueOf(k.eval())) => FrameExclude(String.valueOf(k.eval()))
    case _ => throw new IllegalArgumentException(
      s"$Name takes one of ${Kinds.map(k => s"'$k'").mkString(", ")}")
  }
}

/** Resolution rule for the window features DuckDB has and Spark lacks.
  * On a resolved logical Window it does three things, in this order:
  *
  *  1. GROUPS ([[GroupsFrame]] marker): the frames move to rank space.
  *     A GROUPS frame of n groups back or forward is a RANGE of ±n over
  *     `__grp`, the DENSE_RANK of the window's own partition and order,
  *     computed by a Window below (dense ranks have no gaps, so value
  *     distance is group distance, exact for every bound mix). Ranking
  *     and offset functions keep their own fixed frame (DuckDB ignores
  *     the frame for them).
  *  1. EXCLUDE ([[FrameExclude]] marker): COUNT/SUM/AVG become helper
  *     windows plus arithmetic (see [[exclude]]). MIN/MAX and the other
  *     functions have no subtractive form and fail with a named error.
  *  1. DISTINCT aggregates, which Spark's CheckAnalysis would reject:
  *     `collect_set` once per argument, COUNT its size, SUM and AVG a
  *     fold typed as `Sum(x)`, MIN/MAX without the redundant DISTINCT.
  *     Measured on DuckDB 1.0: NULLs leave the set, COUNT over an empty
  *     frame is 0 and SUM/AVG are NULL.
  *
  * The result is `Project(output, Window(helpers, p, order, child'))`:
  * each column keeps its name, id and type, and every helper window
  * shares the partitioning and order, so the plan gains one sort at
  * most (GROUPS' rank window), never a shuffle. The rule is pruned by
  * tree pattern: a plan without a Window pays one bit test. */
object DuckWindowRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(WINDOW)) {
      case w @ Window(exprs, part, order, child, hint) if w.resolved &&
          exprs.forall(_.isInstanceOf[Alias]) &&
          (part.exists(_.isInstanceOf[FrameMarker]) || exprs.exists(_.exists(isDistinct))) =>
        val p = part.filterNot(_.isInstanceOf[FrameMarker])
        val groups = part.contains(GroupsFrame())
        val kind = part.collectFirst { case FrameExclude(k) => k }
        val (below, ord) =
          if (!groups) (child, order)
          else {
            val grp = Alias(WindowExpression(DenseRank(order.map(_.child)),
              WindowSpecDefinition(p, order,
                SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), "__grp")()
            (Window(Seq(grp), p, order, child, hint), Seq(SortOrder(grp.toAttribute, Ascending)))
          }
        def column(we: WindowExpression): Expression = {
          val frame = (we.windowSpec.frameSpecification, we.windowFunction) match {
            case (f, wf: WindowFunction) if wf.frame != UnspecifiedFrame => f // its own frame
            case (f: SpecifiedWindowFrame, _) if groups => f.copy(frameType = RangeFrame)
            case (f, _) => f
          }
          val respec = WindowExpression(we.windowFunction, WindowSpecDefinition(p, ord, frame))
          kind.fold[Expression](respec)(exclude(_, respec)).transformUp {
            case d: WindowExpression if isDistinct(d) => distinct(d)
          }
        }
        // each window expression of the new columns becomes one helper
        // column of the Window, shared by equal expressions
        val helpers = scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
        val cols = exprs.map { case a: Alias =>
          val v = a.child.transformUp { case we: WindowExpression => column(we) }
            .transformDown { case we: WindowExpression =>
              helpers.getOrElseUpdate(we.canonicalized, Alias(we, s"__w${helpers.size}")())
                .toAttribute
            }
          val typed = if (v.resolved && v.dataType == a.dataType) v else Cast(v, a.dataType)
          Alias(typed, a.name)(a.exprId, a.qualifier, a.explicitMetadata, a.nonInheritableMetadataKeys)
        }
        Project(child.output ++ cols, Window(helpers.values.toSeq, p, ord, below, hint))
    }

  /** A DISTINCT window aggregate [[distinct]] computes: COUNT of one
    * argument, SUM, AVG, MIN or MAX. Others keep Spark's error. */
  private def isDistinct(e: Expression): Boolean = e match {
    case WindowExpression(AggregateExpression(f, _, true, _, _), _) => f match {
      case c: Count => c.children.size == 1
      case _: Sum | _: Average | _: Min | _: Max => true
      case _ => false
    }
    case _ => false
  }

  private def distinct(we: WindowExpression): Expression = {
    val ae = we.windowFunction.asInstanceOf[AggregateExpression]
    ae.aggregateFunction match {
      case _: Min | _: Max => we.copy(windowFunction = ae.copy(isDistinct = false))
      case f =>
        val x = f.children.head
        val set = we.copy(windowFunction = CollectSet(x).toAggregateExpression())
        val n = Size(set)
        val t = Sum(x).dataType
        val acc = NamedLambdaVariable("acc", t, nullable = true)
        val e = NamedLambdaVariable("e", x.dataType, nullable = true)
        val sum = ArrayAggregate(set, Cast(Literal(0), t),
          LambdaFunction(Cast(acc + Cast(e, t), t), Seq(acc, e)), LambdaFunction.identity)
        f match {
          case _: Count => n
          case _: Sum => If(n > 0, sum, Literal(null, t))
          case _ => If(n > 0, Divide(sum, n), Literal(null, f.dataType))
        }
    }
  }

  /** A frame bound as a signed distance from the current row (preceding
    * is negative, an interval counts in microseconds), infinite when
    * unbounded. */
  private def offset(b: Expression): Double = b match {
    case UnboundedPreceding => Double.NegativeInfinity
    case UnboundedFollowing => Double.PositiveInfinity
    case CurrentRow => 0
    case v => v.eval() match {
      case i: CalendarInterval => (i.months * 31.0 + i.days) * 864e8 + i.microseconds
      case d: Decimal => d.toDouble
      case n: Number => n.doubleValue
    }
  }

  /** A window aggregate over its frame minus DuckDB's exclusion `kind`,
    * as helper windows over the same spec plus arithmetic. DuckDB
    * evaluates every exclusion as the row-space segments
    * [frameStart, exclStart−1] ∪ [exclEnd+1, frameEnd] without checking
    * that the frame holds the current row (measured on 1.0), so a frame
    * that misses the current row is EXTENDED to it, not left alone.
    * With F(frame) the COUNT, or the NULL-as-0 SUM, of the argument over
    * a frame, `cur` the current row's own count or NULL-as-0 value, and
    * P the ROWS prefix windows P(i+k) = ROWS UNBOUNDED..k, the remainder
    * of each kind is one formula, applied to counts and to sums:
    *
    *  - CURRENT ROW, frame holds the current row: F(frame) − cur.
    *  - CURRENT ROW, ROWS frame ending before the current row (or
    *    starting after it): the bound moves to 1 PRECEDING (1 FOLLOWING)
    *    and the function keeps its frame, whatever the function.
    *  - CURRENT ROW, RANGE frame ending before the current row:
    *    P(i−1) − (F(RANGE UNBOUNDED..CURRENT) − F(RANGE lo..CURRENT));
    *    starting after it: F(RANGE UNBOUNDED..hi) − P(i). The extension
    *    runs in row space, peers included.
    *  - GROUP, RANGE frame holding the current row: F(frame) − F(peers),
    *    with peers = RANGE CURRENT..CURRENT. TIES adds `cur` back, here
    *    and below.
    *  - GROUP, RANGE frame missing it: F(RANGE lo..CURRENT) − F(peers),
    *    unless the frame starts after the current row, plus
    *    F(RANGE CURRENT..hi) − F(peers), unless it ends before.
    *  - GROUP, ROWS frame [i−a, i+b], with pe the last peer:
    *    F(RANGE UNBOUNDED..CURRENT) − F(peers) − P(i−a−1) when fewer than
    *    a peers precede the row, plus P(i+b) − P(pe) when fewer than b
    *    follow it; peer counts come from COUNT(*) windows.
    *
    * COUNT is the remaining count; SUM the remaining sum, NULL when the
    * count is 0; AVG their quotient. A FILTER clause is already folded
    * into the argument by the shim. After the GROUPS step a GROUPS frame
    * is a RANGE frame over the dense rank, so its peers are the ORDER BY
    * peers. DuckDB goldens for every case are in DuckDbDialectSpec. */
  private def exclude(kind: String, we: WindowExpression): Expression = {
    val spec = we.windowSpec
    val frame = spec.frameSpecification.asInstanceOf[SpecifiedWindowFrame]
    val (lo, hi) = (frame.lower, frame.upper)
    val (startsAfter, endsBefore) = (offset(lo) > 0, offset(hi) < 0)
    val rowsFrame = frame.frameType == RowFrame
    if (kind == "current row" && rowsFrame && (startsAfter || endsBefore))
      return we.copy(windowSpec = spec.copy(frameSpecification = SpecifiedWindowFrame(RowFrame,
        if (startsAfter) Literal(1) else lo, if (endsBefore) Literal(-1) else hi)))
    val ae = we.windowFunction match {
      case ae: AggregateExpression if ae.isDistinct => throw new IllegalArgumentException(
        "window frame EXCLUDE over a DISTINCT aggregate is not supported")
      case ae @ AggregateExpression(_: Count | _: Sum | _: Average, _, _, _, _) => ae
      case f =>
        val fn = f match { case ae: AggregateExpression => ae.aggregateFunction; case wf => wf }
        throw new IllegalArgumentException(s"window frame EXCLUDE " +
          s"${kind.toUpperCase(java.util.Locale.ROOT)} over ${fn.prettyName}() has no " +
          "decomposable rewrite — the dialect shim supports COUNT/SUM/AVG")
    }
    val args = ae.aggregateFunction.children
    type F = (FrameType, Expression, Expression) => Expression
    def over(f: AggregateFunction): F = (ft, l, u) => WindowExpression(f.toAggregateExpression(),
      spec.copy(frameSpecification = SpecifiedWindowFrame(ft, l, u)))
    val count = over(Count(if (ae.aggregateFunction.isInstanceOf[Count]) args else args.take(1)))
    val sum: F = (ft, l, u) => Coalesce(Seq(over(Sum(args.head))(ft, l, u), Literal(0)))
    val star = over(Count(Literal(1)))
    def upToPeers(g: F) = g(RangeFrame, UnboundedPreceding, CurrentRow)
    def peers(g: F) = g(RangeFrame, CurrentRow, CurrentRow)
    def rowsTo(g: F, k: Long) =
      g(RowFrame, UnboundedPreceding, if (k == 0) CurrentRow else Literal(k.toInt))
    lazy val follPeers = upToPeers(star) - rowsTo(star, 0)
    lazy val precPeers = peers(star) - 1 - follPeers
    def remaining(g: F, cur: Expression): Expression = {
      val segs = kind match {
        case "current row" if endsBefore =>
          rowsTo(g, -1) - (upToPeers(g) - g(RangeFrame, lo, CurrentRow))
        case "current row" if startsAfter =>
          g(RangeFrame, UnboundedPreceding, hi) - rowsTo(g, 0)
        case "current row" => g(frame.frameType, lo, hi) - cur
        case _ if !rowsFrame && !startsAfter && !endsBefore => g(frame.frameType, lo, hi) - peers(g)
        case _ if !rowsFrame =>
          (if (startsAfter) Literal(0) else g(RangeFrame, lo, CurrentRow) - peers(g)) +
            (if (endsBefore) Literal(0) else g(RangeFrame, CurrentRow, hi) - peers(g))
        case _ =>
          val (a, b) = (-offset(lo), offset(hi))
          val before =
            if (a.isInfinite) upToPeers(g) - peers(g)
            else if (a <= 0) Literal(0)
            else If(precPeers < a.toLong,
              upToPeers(g) - peers(g) - rowsTo(g, -(a.toLong + 1)), Literal(0))
          val after =
            if (b.isInfinite) g(RowFrame, UnboundedPreceding, UnboundedFollowing) - upToPeers(g)
            else if (b <= 0) Literal(0)
            else If(follPeers < b.toLong, rowsTo(g, b.toLong) - upToPeers(g), Literal(0))
          before + after
      }
      if (kind == "ties") segs + cur else segs
    }
    val n = remaining(count, If(args.map(IsNotNull).reduce(And), 1, 0))
    ae.aggregateFunction match {
      case _: Count => n
      case f =>
        val total = remaining(sum, Coalesce(Seq(args.head, Literal(0))))
        If(n > 0, if (f.isInstanceOf[Sum]) total else Divide(total, n), Literal(null, we.dataType))
    }
  }
}
