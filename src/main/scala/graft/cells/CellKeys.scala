package graft.cells

import graft.geom.{Extent, Geom}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** A partitioning of the plane into join keys: an MBR replicates to every key
  * it overlaps, and a point (the reference point of a candidate pair) has
  * exactly one owner key. [[CellKeys]] and [[CellOf]] evaluate the scheme
  * object itself, so the DataFrame plans, the SQL rewrite, the split planner
  * and the JVM-side `keysOf`/`owns` all run the same arithmetic.
  *
  * Exactly-once contract: an intersecting pair's reference point (the
  * bottom-left corner of the intersection, `(max xmin, max ymin)`) lies in
  * both rows' [min, max] boxes, so its owner key is among the keys both rows
  * replicate to, and a pair is kept only in that key.
  */
trait KeyScheme extends Serializable {
  /** The unique owner key of a point. */
  def keyOf(x: Double, y: Double): Long

  /** Every key the MBR overlaps, in one fresh array. Per axis the covered
    * range is [min, max] of the two clamped coordinates, so an inverted row
    * (max < min) covers the same keys as its swapped form.
    */
  def keys(xmin: Double, xmax: Double, ymin: Double, ymax: Double): UnsafeArrayData

  /** Short form for `explain` output, e.g. `grid 250x250 [0,10001]x[0,10001]`. */
  def describe: String

  /** Every key the MBR of `g` replicates to ([[keys]]). */
  def keysOf(g: Geom): Seq[Long] = keys(g.xmin, g.xmax, g.ymin, g.ymax).toLongArray.toSeq

  /** Reference-point ownership: pair (a, b) is kept in `key` iff `key` owns
    * the bottom-left corner of their intersection.
    */
  def owns(key: Long, a: Geom, b: Geom): Boolean =
    keyOf(math.max(a.xmin, b.xmin), math.max(a.ymin, b.ymin)) == key
}

object KeyScheme {
  private def fmt(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** An extent as `[xmin,xmax]x[ymin,ymax]`, for [[KeyScheme.describe]]. */
  private[cells] def box(e: Extent): String =
    s"[${fmt(e.xmin)},${fmt(e.xmax)}]x[${fmt(e.ymin)},${fmt(e.ymax)}]"

  /** Fresh array of `n` longs (`n` computed in Long so an overflow fails loudly). */
  private[graft] def longArray(n: Long): UnsafeArrayData =
    UnsafeArrayData.createFreshArray(math.toIntExact(n), 8)
}

/** `cell_keys(scheme, xmin, xmax, ymin, ymax)`: the array of keys an MBR
  * replicates to under `scheme`; `explode` of it is the map side of every
  * PBSM plan. Null if any coordinate is null (no replicas). Non-double
  * coordinates are widened to double by the analyzer; callers that build
  * the expression after analysis must cast themselves.
  */
case class CellKeys(scheme: KeyScheme, xmin: Expression, xmax: Expression,
                    ymin: Expression, ymax: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def first: Expression = xmin
  override def second: Expression = xmax
  override def third: Expression = ymin
  override def fourth: Expression = ymax
  override def inputTypes: Seq[DoubleType] = Seq.fill(4)(DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_keys"
  override def toString: String = s"$prettyName(${scheme.describe}, ${children.mkString(", ")})"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    scheme.keys(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyScheme", scheme, scheme.getClass.getName)
    defineCodeGen(ctx, ev, (a, b, c, d) => s"$ref.keys($a, $b, $c, $d)")
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
                                                 c: Expression, d: Expression): CellKeys =
    copy(xmin = a, xmax = b, ymin = c, ymax = d)
}

/** `cell_of(scheme, x, y)`: the owner key of a point — the cell of a point
  * side, and the reference-point ownership test of a replicated pair.
  */
case class CellOf(scheme: KeyScheme, x: Expression, y: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def left: Expression = x
  override def right: Expression = y
  override def inputTypes: Seq[DoubleType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_of"
  override def toString: String = s"$prettyName(${scheme.describe}, $x, $y)"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    scheme.keyOf(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyScheme", scheme, scheme.getClass.getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.keyOf($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CellOf =
    copy(x = l, y = r)
}
