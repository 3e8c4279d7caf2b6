package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Mergeable WEIGHTED quantile summary — the weighted-insert quantile
  * sketch the Datasketches KLL/GK APIs do not expose (round 21; the
  * [[FreqSketchAggW]] precedent applied to quantiles).
  *
  * Why it exists: the approx-quantile operator family pairs an exact
  * histogram-quantile chain with a sketch branch whose agreement the
  * oracle pins. The exact side reads a per-group VALUE HISTOGRAM
  * `(value, count)` — one map-combinable scan whose size saturates with
  * the bounded value domain — but the sketch aggregates (Datasketches
  * KLL, Spark's percentile_approx/GK) only accept one item per call, so
  * the sketch branch paid a SECOND full pass over raw rows (60M updates
  * at sf10 where the histogram holds ~1M distinct values; at 100 TB the
  * gap is unbounded). A weighted insert `(value, count)` lets the sketch
  * ride the histogram the exact side already built: one raw scan total,
  * sketch update count bounded by the value domain.
  *
  * Algorithm: the classic merge-prune ("compress") quantile summary —
  * a capped list of (value, weight) entries; when the buffer exceeds
  * 2·[[WqSummary.MaxEntries]] it is sorted, equal values are coalesced,
  * and adjacent entries are greedily packed into ≤MaxEntries buckets of
  * ~equal weight, each represented by the entry covering the bucket's
  * weighted midpoint. Each compaction perturbs any rank by at most the
  * largest bucket's weight (≈ W/B); Spark's partial/final aggregation
  * tree applies O(log partitions) compactions, so the normalized rank
  * error stays ≲ levels/B ≈ 0.5% at B=2048 — well inside the 5% VALUE
  * agreement envelope the operator queries pin (the Datasketches KLL
  * K=200 it replaces carried ~1.65% normalized rank error). This is the
  * mergeable summaries construction of Agarwal et al. (PODS'12) /
  * Greenwald-Khanna with weighted entries — the same weighted quantile
  * summary XGBoost popularized for split finding.
  *
  * Determinism: compaction sorts by value and coalesces equal values,
  * so the result is a function of the (value, weight) multisets that
  * reached each buffer — no randomness anywhere; the estimate can vary
  * with partitioning (like every mergeable sketch under Spark's
  * combiner tree), which is exactly why the queries pin an envelope,
  * never the estimate itself.
  */
final class WqSummary {
  import WqSummary.MaxEntries

  /** parallel (value, weight) arrays; `n` live entries, unsorted between
    * compactions. */
  private var vs = new Array[Double](64)
  private var ws = new Array[Long](64)
  private var n = 0

  def add(v: Double, w: Long): Unit = {
    if (w <= 0L) return
    if (n == vs.length) {
      if (n >= 2 * MaxEntries) compact()
      else grow()
    }
    vs(n) = v; ws(n) = w; n += 1
  }

  private def grow(): Unit = {
    val cap = math.min(2 * MaxEntries, vs.length * 2)
    vs = java.util.Arrays.copyOf(vs, cap)
    ws = java.util.Arrays.copyOf(ws, cap)
  }

  def mergeInPlace(other: WqSummary): WqSummary = {
    var i = 0
    while (i < other.n) { add(other.vs(i), other.ws(i)); i += 1 }
    this
  }

  /** sort by value, coalesce equal values, greedily pack into
    * ≤MaxEntries weight-balanced buckets (midpoint-rank representative). */
  private def compact(): Unit = {
    if (n == 0) return
    // sort the live prefix by value, carrying weights
    val idx = (0 until n).sortBy(vs)
    val sv = new Array[Double](n)
    val sw = new Array[Long](n)
    var i = 0
    while (i < n) { sv(i) = vs(idx(i)); sw(i) = ws(idx(i)); i += 1 }
    // coalesce equal values
    var m = 0
    i = 0
    while (i < n) {
      if (m > 0 && sv(m - 1) == sv(i)) sw(m - 1) += sw(i)
      else { sv(m) = sv(i); sw(m) = sw(i); m += 1 }
      i += 1
    }
    if (m <= MaxEntries) {
      System.arraycopy(sv, 0, vs, 0, m); System.arraycopy(sw, 0, ws, 0, m)
      n = m
      return
    }
    var total = 0L
    i = 0
    while (i < m) { total += sw(i); i += 1 }
    // greedy weight-balanced packing: close a bucket once its cumulative
    // weight crosses the next k·W/B boundary (the entry that crosses is
    // included, so bucket weight ≤ W/B + one entry and the bucket count
    // stays ≤ B); representative = the entry covering the bucket's
    // weighted midpoint (zero error for single-entry buckets, ≤ half the
    // bucket weight otherwise). Boundaries in double to stay safe from
    // long overflow at any W — doubles are deterministic.
    val step = total.toDouble / MaxEntries
    var w2 = 0
    var k = 1
    i = 0
    var cumBefore = 0L
    while (i < m) {
      val bucketStart = i
      var bucketW = 0L
      while (k < MaxEntries && k * step <= cumBefore.toDouble) k += 1
      val bound = if (k >= MaxEntries) total.toDouble else k * step
      while (i < m && (cumBefore + bucketW).toDouble < bound) {
        bucketW += sw(i); i += 1
      }
      if (bucketW == 0L && i < m) { bucketW += sw(i); i += 1 } // safety: never stall
      // representative: entry covering the bucket's midpoint rank
      val mid = (bucketW - 1) / 2
      var c = 0L
      var j = bucketStart
      while (j < i - 1 && c + sw(j) <= mid) { c += sw(j); j += 1 }
      vs(w2) = sv(j); ws(w2) = bucketW; w2 += 1
      cumBefore += bucketW
    }
    n = w2
  }

  /** inclusive-rank quantile estimate: the smallest value whose
    * cumulative weight reaches ⌈q·W⌉ (q=0 → the minimum); null when
    * empty. Compacts first so the walk sees a sorted summary. */
  def quantile(q: Double): Any = {
    if (n == 0) return null
    compactForQuery()
    var total = 0L
    var i = 0
    while (i < n) { total += ws(i); i += 1 }
    val target = math.max(1L, math.ceil(q * total).toLong)
    var cum = 0L
    i = 0
    while (i < n) {
      cum += ws(i)
      if (cum >= target) return vs(i)
      i += 1
    }
    vs(n - 1)
  }

  /** sort+coalesce without pruning (query and serialization want a
    * canonical sorted form; pruning only happens on overflow). */
  private def compactForQuery(): Unit = {
    val keep = n
    if (keep <= 1) return
    val idx = (0 until keep).sortBy(vs)
    val sv = new Array[Double](keep)
    val sw = new Array[Long](keep)
    var i = 0
    while (i < keep) { sv(i) = vs(idx(i)); sw(i) = ws(idx(i)); i += 1 }
    var m = 0
    i = 0
    while (i < keep) {
      if (m > 0 && sv(m - 1) == sv(i)) sw(m - 1) += sw(i)
      else { sv(m) = sv(i); sw(m) = sw(i); m += 1 }
      i += 1
    }
    System.arraycopy(sv, 0, vs, 0, m); System.arraycopy(sw, 0, ws, 0, m)
    n = m
  }

  /** The canonical sorted, coalesced image: a 4-byte count, then 16
    * bytes per entry. It does not prune, so it holds up to
    * 2·MaxEntries entries: at most 4 + 16·2·MaxEntries bytes (~64 KB). */
  def toBytes: Array[Byte] = {
    compactForQuery()
    val bos = new ByteArrayOutputStream(8 + 16 * n)
    val out = new DataOutputStream(bos)
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeDouble(vs(i)); out.writeLong(ws(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  /** number of live entries — test hook. */
  private[graft] def size: Int = n
}

object WqSummary {
  /** Summary capacity: ≥MaxEntries distinct values survive compaction,
    * the buffer holds up to 2× before compacting. At 2048 the serialized
    * image is at most 4 + 16·2·MaxEntries bytes (~64 KB; [[toBytes]] does
    * not prune) and the normalized rank error stays ≲0.5% through
    * Spark's combiner tree. Each serialize/deserialize hop can add one
    * pruning compaction to that error's level count: a deserialized
    * image of 2·MaxEntries entries fills the buffer, so the next insert
    * compacts. */
  val MaxEntries: Int = 2048

  def fromBytes(bytes: Array[Byte]): WqSummary = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val m = in.readInt()
    val s = new WqSummary
    var i = 0
    while (i < m) { val v = in.readDouble(); val w = in.readLong(); s.add(v, w); i += 1 }
    s
  }
}

/** wq_sketch_agg(value DOUBLE, weight BIGINT) → serialized [[WqSummary]].
  * Null value/weight and weight ≤ 0 contribute nothing (matching the
  * unweighted sketch aggregates' null skip). */
case class WqSketchAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WqSummary]
  with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wq_sketch_agg expects (DOUBLE value, BIGINT weight), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): WqSummary = new WqSummary

  override def update(buffer: WqSummary, input: InternalRow): WqSummary = {
    val v = left.eval(input)
    val w = right.eval(input)
    if (v != null && w != null) buffer.add(v.asInstanceOf[Double], w.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: WqSummary, other: WqSummary): WqSummary =
    buffer.mergeInPlace(other)

  override def eval(buffer: WqSummary): Any = buffer.toBytes
  override def serialize(buffer: WqSummary): Array[Byte] = buffer.toBytes
  override def deserialize(storage: Array[Byte]): WqSummary = WqSummary.fromBytes(storage)

  override def withNewMutableAggBufferOffset(n: Int): WqSketchAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): WqSketchAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): WqSketchAgg = copy(left = l, right = r)
  override def prettyName: String = "wq_sketch_agg"
}

/** Union of serialized weighted-quantile summaries — the rollup step. */
case class WqMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WqSummary]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wq_merge_agg expects BINARY sketch images, got ${child.dataType.simpleString}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): WqSummary = new WqSummary

  override def update(buffer: WqSummary, input: InternalRow): WqSummary = {
    val v = child.eval(input)
    if (v != null) buffer.mergeInPlace(WqSummary.fromBytes(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: WqSummary, other: WqSummary): WqSummary =
    buffer.mergeInPlace(other)

  override def eval(buffer: WqSummary): Any = buffer.toBytes
  override def serialize(buffer: WqSummary): Array[Byte] = buffer.toBytes
  override def deserialize(storage: Array[Byte]): WqSummary = WqSummary.fromBytes(storage)

  override def withNewMutableAggBufferOffset(n: Int): WqMergeAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): WqMergeAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): WqMergeAgg =
    copy(child = newChild)
  override def prettyName: String = "wq_merge_agg"
}

/** wq_sketch_quantile(sketch_bytes, fraction) → the summary's quantile
  * estimate (inclusive rank), NULL for an empty summary. Evaluated once
  * per sketch image post-aggregation, so CodegenFallback costs nothing
  * measurable. */
case class WqQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "wq_sketch_quantile expects (BINARY, DOUBLE), got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(bytes: Any, frac: Any): Any =
    WqSummary.fromBytes(bytes.asInstanceOf[Array[Byte]])
      .quantile(frac.asInstanceOf[Double])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WqQuantile =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "wq_sketch_quantile"
}

/** Column-API entry points (internal operator-library use). */
object WeightedQuantile {
  import org.apache.spark.sql.{Column, GraftShim}
  import org.apache.spark.sql.catalyst.expressions.Literal

  def wqSketchAgg(value: Column, weight: Column): Column =
    GraftShim.column(WqSketchAgg(GraftShim.expression(value),
      GraftShim.expression(weight)).toAggregateExpression())
  def wqMergeAgg(c: Column): Column =
    GraftShim.column(WqMergeAgg(GraftShim.expression(c)).toAggregateExpression())
  def wqQuantile(c: Column, p: Double): Column =
    GraftShim.column(WqQuantile(GraftShim.expression(c), Literal(p)))
}
