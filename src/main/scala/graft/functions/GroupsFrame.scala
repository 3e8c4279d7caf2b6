package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.WINDOW
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Marks a window spec whose frame is an ANSI `GROUPS` frame. Spark has
  * no GROUPS token, so the dialect shim spells `GROUPS <bounds>` as
  * `ROWS <bounds>` and puts this call first in the spec's PARTITION BY;
  * [[GroupsFrameRule]] then gives the frame its GROUPS meaning and drops
  * the marker.
  *
  * It is foldable so that the analyzer leaves it in the partition spec of
  * the logical Window (a non-foldable partition expression is projected
  * below the Window as `_w0`, out of the rule's sight). An escaped marker
  * (one not first in a GROUPS spec's PARTITION BY) is folded by the
  * optimizer, and its `eval` fails with a message that names it. */
case class GroupsFrame() extends LeafExpression with CodegenFallback {
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException(s"${GroupsFrame.Name}() marks a GROUPS " +
      "window frame and is only valid first in a window's PARTITION BY")
  override def prettyName: String = GroupsFrame.Name
}

object GroupsFrame {
  val Name = "graft_groups_frame"
}

/** Resolution rule: a logical Window whose partition spec holds the
  * [[GroupsFrame]] marker computes its frames in rank space.
  *
  *   Window(exprs, [marker, p…], order, child)
  *     → Project(output, Window(exprs', p, [__grp ASC],
  *         Window([DENSE_RANK() OVER (p ORDER BY order) AS __grp], p, order, child)))
  *
  * where every frame of `exprs'` is a RANGE frame with the original
  * bounds over `__grp`. A GROUPS frame of n groups back or forward is a
  * RANGE of ±n over the dense rank of the window's own partition and
  * order: dense ranks have no gaps, so value distance is group distance,
  * exact for every bound mix. Ranking and offset functions keep their
  * own fixed frame (DuckDB ignores the frame for them). Both Windows
  * share the partitioning, so the plan gains a sort, not a shuffle. The
  * rule is pruned by tree pattern: a plan without a Window pays one bit
  * test. */
object GroupsFrameRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUpWithPruning(_.containsPattern(WINDOW)) {
      case w @ Window(exprs, part, order, child, hint)
          if w.resolved && part.exists(_.isInstanceOf[GroupsFrame]) =>
        val p = part.filterNot(_.isInstanceOf[GroupsFrame])
        val grp = Alias(WindowExpression(DenseRank(order.map(_.child)),
          WindowSpecDefinition(p, order,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), "__grp")()
        val byGrp = Seq(SortOrder(grp.toAttribute, Ascending))
        val inRankSpace = exprs.map(_.transform {
          case WindowExpression(f, WindowSpecDefinition(_, _, frame: SpecifiedWindowFrame)) =>
            val fixed = f match {
              case wf: WindowFunction => wf.frame != UnspecifiedFrame
              case _ => false
            }
            WindowExpression(f, WindowSpecDefinition(p, byGrp,
              if (fixed) frame else frame.copy(frameType = RangeFrame)))
        }.asInstanceOf[NamedExpression])
        Project(w.output,
          Window(inRankSpace, p, byGrp, Window(Seq(grp), p, order, child, hint), hint))
    }
}
