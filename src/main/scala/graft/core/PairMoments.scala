package graft.core

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The seven joint-validity moments of every column pair of a frame, as ONE
  * aggregate — the kernel behind the narrow `corr`/`cov` paths.
  *
  * Children are the k value columns (doubles) followed by the weight. The
  * buffer is one flat `Array[Double]` holding `(n, Σw, Σxw, Σyw, Σxyw, Σx²w,
  * Σy²w)` for each unordered pair `i ≤ j` (upper triangle, row-major); a row
  * adds to a pair only when x, y and w are all non-null. The terms and their
  * order are exactly those of the per-pair Catalyst sums in
  * [[WeightedMoments.corrExpr]] (`(x*y)*w`, `(x*x)*w`, each sum starting from
  * 0.0), so every moment is the same double the expression plan produced.
  *
  * `eval` emits all k² cells x-major as `(i, j, n, sw, sx, sy, sxy, sxx,
  * syy)`; a cell with `j < i` mirrors pair `(j, i)` with x and y swapped, and
  * a pair with no valid row has `n = 0`, `sw = 0.0` and NULL sums (what a SQL
  * `sum` over zero rows gives). The plan holds O(k) expressions at any
  * width.
  */
case class PairMoments(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {
  import PairMoments._

  private def k: Int = children.length - 1

  @transient private lazy val inputs: Array[Expression] = children.toArray

  override def prettyName: String = "pair_moments"
  override def nullable: Boolean = false
  override def dataType: DataType = CellsType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.nonEmpty && children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pair_moments takes double value columns and a double weight, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](Width * pairs(k))

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val wv = inputs(k).eval(input)
    if (wv == null) return buf
    val w = wv.asInstanceOf[Double]
    val xs = new Array[Double](k)
    val ok = new Array[Boolean](k)
    var i = 0
    while (i < k) {
      val v = inputs(i).eval(input)
      if (v != null) { xs(i) = v.asInstanceOf[Double]; ok(i) = true }
      i += 1
    }
    var off = 0
    i = 0
    while (i < k) {
      if (ok(i)) {
        val x = xs(i)
        var j = i
        while (j < k) {
          if (ok(j)) {
            val y = xs(j)
            buf(off) += 1.0
            buf(off + 1) += w
            buf(off + 2) += x * w
            buf(off + 3) += y * w
            buf(off + 4) += (x * y) * w
            buf(off + 5) += (x * x) * w
            buf(off + 6) += (y * y) * w
          }
          off += Width
          j += 1
        }
      } else off += Width * (k - i)
      i += 1
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = {
    val cells = new Array[Any](k * k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j < k) {
        val swap = j < i
        val off = Width * pairIndex(math.min(i, j), math.max(i, j), k)
        val n = buf(off).toLong
        def sum(d: Int): Any = if (n == 0L) null else buf(off + d)
        cells(i * k + j) = new GenericInternalRow(Array[Any](
          i, j, n, buf(off + 1),
          sum(if (swap) 3 else 2), sum(if (swap) 2 else 3), sum(4),
          sum(if (swap) 6 else 5), sum(if (swap) 5 else 6)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(cells)
  }

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(8 * buf.length)
    bytes.asDoubleBuffer().put(buf)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val buf = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): PairMoments =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): PairMoments =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PairMoments =
    copy(children = newChildren)
}

object PairMoments {
  /** Moments per pair: n, Σw, Σxw, Σyw, Σxyw, Σx²w, Σy²w. */
  private val Width = 7

  private def pairs(k: Int): Int = k * (k + 1) / 2

  /** Position of pair `i ≤ j` in the row-major upper triangle of a k×k
    * matrix. */
  private def pairIndex(i: Int, j: Int, k: Int): Int = i * k - i * (i - 1) / 2 + (j - i)

  val CellType: StructType = StructType(
    Seq("i", "j").map(StructField(_, IntegerType, nullable = false)) ++ Seq(
      StructField("n", LongType, nullable = false),
      StructField("sw", DoubleType, nullable = false)) ++
      Seq("sx", "sy", "sxy", "sxx", "syy").map(StructField(_, DoubleType)))

  val CellsType: ArrayType = ArrayType(CellType, containsNull = false)

  /** The aggregate over `values` (cast to double) weighted by `w`: one
    * `array<struct>` of k² cells per group. */
  def column(values: Seq[Column], w: Column): Column =
    ColumnBridge.column(PairMoments((values :+ w).map(c =>
      ColumnBridge.expression(c.cast(DoubleType)))).toAggregateExpression())

  /** Weighted Pearson correlation of one exploded cell. */
  def corr(cell: Column, ddof: Int, minPeriods: Int): Column =
    WeightedMoments.corrFromMoments(cell("n"), cell("sw"), cell("sx"), cell("sy"),
      cell("sxy"), cell("sxx"), cell("syy"), ddof, minPeriods)

  /** Weighted covariance of one exploded cell. */
  def cov(cell: Column, ddof: Int): Column =
    WeightedMoments.covFromMoments(cell("sw"), cell("sx"), cell("sy"), cell("sxy"), ddof)
}
