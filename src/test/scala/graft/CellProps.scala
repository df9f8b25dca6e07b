package graft

import graft.cells.{BinarySplitScheme, CellKeys, CellScheme, KeyScheme, SortTileScheme}
import graft.geom.{Extent, Geom}
import graft.skew.AdaptiveScheme
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Property-based invariants of the cell index (pure JVM, no Spark):
  * for every intersecting pair, exactly one candidate cell owns it, and the
  * owner is always in both replication sets — the exactly-once contract the
  * whole engine rests on (reference-point dedup, SURVEY.md §7.4) — for every
  * [[KeyScheme]] and for inverted rows (max < min on an axis) too.
  */
object CellProps extends Properties("cells") {

  private val coord = Gen.chooseNum(-20.0, 120.0)
  // one row in four is inverted on the axis (max < min)
  private val len = Gen.frequency(3 -> Gen.chooseNum(0.0, 40.0), 1 -> Gen.chooseNum(-40.0, 0.0))

  private val geomGen: Gen[Geom] = for {
    x <- coord; y <- coord; w <- len; h <- len; id <- Gen.chooseNum(0L, 1L << 40)
  } yield Geom(id, x, x + w, y, y + h)

  private val schemeGen: Gen[CellScheme] = for {
    nx <- Gen.chooseNum(1, 19); ny <- Gen.chooseNum(1, 19)
  } yield CellScheme(Extent(0, 100, 0, 100), nx, ny)

  /** Sorted boundaries, some on round values and repeated. */
  private def bounds(n: Int, coord: Gen[Double]): Gen[Array[Double]] =
    Gen.listOfN(n, Gen.frequency(3 -> coord, 1 -> Gen.oneOf(0.0, 50.0, 100.0)))
      .map(_.sorted.toArray)

  /** Sort-tile schemes with arbitrary (not sample-quantile) boundaries. */
  private def sortTileGen(coord: Gen[Double]): Gen[SortTileScheme] = for {
    sx <- Gen.chooseNum(1, 6); sy <- Gen.chooseNum(1, 6)
    xb <- bounds(sx - 1, coord); yb <- Gen.listOfN(sx, bounds(sy - 1, coord))
  } yield SortTileScheme(Extent(0, 100, 0, 100), xb, yb.toArray)

  /** Binary-split schemes with arbitrary split axes and positions (a leaf
    * may cover an empty region).
    */
  private def binarySplitGen(coord: Gen[Double]): Gen[BinarySplitScheme] = for {
    depth <- Gen.chooseNum(0, 4)
    axis <- Gen.listOfN((1 << depth) - 1, Gen.oneOf(true, false))
    at <- Gen.listOfN((1 << depth) - 1, coord)
  } yield BinarySplitScheme(Extent(0, 100, 0, 100), depth, axis.toArray, at.toArray)

  private val anySchemeGen: Gen[KeyScheme] =
    Gen.oneOf(schemeGen, sortTileGen(coord), binarySplitGen(coord))

  property("exactly-once ownership among shared candidate cells") =
    Prop.forAll(geomGen, geomGen, anySchemeGen) { (a, b, s) =>
      !a.intersects(b) || {
        val shared = s.keysOf(a).toSet intersect s.keysOf(b).toSet
        shared.count(c => s.owns(c, a, b)) == 1
      }
    }

  property("owner cell of any point is in the replication set") =
    Prop.forAll(geomGen, anySchemeGen) { (g, s) =>
      val cx = math.min(math.max(g.centerX, g.xmin), g.xmax)
      val cy = math.min(math.max(g.centerY, g.ymin), g.ymax)
      s.keysOf(g).contains(s.keyOf(cx, cy))
    }

  private val splitsGen: Gen[Map[Long, Int]] = Gen.mapOf(for {
    c <- Gen.chooseNum(0L, 24L); f <- Gen.chooseNum(2, 5)
  } yield (c, f))

  property("adaptive scheme keeps exactly-once under arbitrary splits") =
    Prop.forAll(geomGen, geomGen, splitsGen) { (a, b, splits) =>
      val scheme = AdaptiveScheme(CellScheme(Extent(0, 100, 0, 100), 5, 5), splits)
      !a.intersects(b) || {
        val shared = scheme.keysOf(a).toSet intersect scheme.keysOf(b).toSet
        shared.count(k => scheme.owns(k, a, b)) == 1
      }
    }

  // ---- cell_keys against the declarative explode(sequence) replication ----

  /** Test-local copy of the replication the plans used before `cell_keys`:
    * per axis `least(greatest(floor((v - lo) / len), 0), n - 1)`, exploded
    * over `sequence(c0, c1)` (which counts down when c0 > c1, so the covered
    * range is [min, max]); a null coordinate gives a null sequence and no
    * rows. The adaptive form re-explodes every split cell over the same
    * clamped sub-ranges with `lo = extent.min + c·len`, `len = cellLen / s`
    * and packs `cell·4096 + 1 + sy·s + sx`.
    */
  private def declarative(scheme: KeyScheme, r: Seq[Option[Double]]): Seq[Long] =
    if (r.exists(_.isEmpty)) Nil
    else {
      val Seq(x0, x1, y0, y1) = r.map(_.get)
      def cc(v: Double, lo: Double, len: Double, n: Long): Long =
        math.min(math.max(math.floor((v - lo) / len).toLong, 0L), n - 1)
      def seq(a: Long, b: Long): Seq[Long] = if (a <= b) a to b else a to b by -1
      def grid(s: CellScheme): Seq[Long] = for {
        cy <- seq(cc(y0, s.extent.ymin, s.cellH, s.ny), cc(y1, s.extent.ymin, s.cellH, s.ny))
        cx <- seq(cc(x0, s.extent.xmin, s.cellW, s.nx), cc(x1, s.extent.xmin, s.cellW, s.nx))
      } yield cy * s.nx + cx
      scheme match {
        case s: CellScheme => grid(s)
        case a: AdaptiveScheme =>
          val b = a.base
          grid(b).flatMap { cell =>
            a.splits.getOrElse(cell, 0) match {
              case 0 => Seq(cell * 4096)
              case sp =>
                val lox = b.extent.xmin + (cell % b.nx).toDouble * b.cellW
                val loy = b.extent.ymin + math.floor(cell.toDouble / b.nx.toDouble) * b.cellH
                val subW = b.cellW / sp.toDouble; val subH = b.cellH / sp.toDouble
                for {
                  sy <- seq(cc(y0, loy, subH, sp), cc(y1, loy, subH, sp))
                  sx <- seq(cc(x0, lox, subW, sp), cc(x1, lox, subW, sp))
                } yield cell * 4096 + 1 + sy * sp + sx
            }
          }
      }
    }

  private val hostileExt = Extent(0, 100, 0, 100)

  private val keySchemeGen: Gen[KeyScheme] = Gen.oneOf(
    schemeGen,
    sortTileGen(Gen.chooseNum(-20.0, 120.0)),
    binarySplitGen(Gen.chooseNum(-20.0, 120.0)),
    Gen.chooseNum(1, 19).map(n => CellScheme.stripesX(hostileExt, n)),
    Gen.chooseNum(1, 19).map(n => CellScheme.stripesY(hostileExt, n)),
    splitsGen.map(sp => AdaptiveScheme(CellScheme(hostileExt, 5, 5), sp + (12L -> 3))),
    Gen.oneOf(Map.empty[Long, Int], Map(0L -> 2)).map(sp =>
      AdaptiveScheme(CellScheme(hostileExt, 5, 5), sp)))

  /** Null, NaN, ±Inf, far outliers, values on cell (100/k) and subcell
    * (20/s) edges, and plain values; min and max are drawn independently,
    * so rows are inverted about half the time.
    */
  private val hostileCoord: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -1e300, 1e300, -0.0, 100.0, 0.0).map(Some(_)),
    4 -> (for { k <- Gen.chooseNum(1, 19); i <- Gen.chooseNum(-1, 20) }
          yield Some(i * 100.0 / k)),
    3 -> (for { s <- Gen.chooseNum(2, 5); i <- Gen.chooseNum(0, 25 * s) }
          yield Some(i * 20.0 / s)),
    4 -> Gen.chooseNum(-20.0, 120.0).map(Some(_)))

  private val inputs = (0 until 4).map(i => BoundReference(i, DoubleType, nullable = true))
  private def row(r: Seq[Option[Double]]) =
    InternalRow.fromSeq(r.map(_.map(Double.box).orNull))

  /** Sort-tile and binary-split cells have no declarative replication to
    * compare with: for them the interpreted, codegen'd and `keysOf` results
    * must agree.
    */
  property("cell_keys == the explode(sequence) replication on hostile rows") =
    Prop.forAll(keySchemeGen, Gen.listOfN(4, hostileCoord)) { (scheme, r) =>
      val e = CellKeys(scheme, inputs(0), inputs(1), inputs(2), inputs(3))
      val jvm = if (r.exists(_.isEmpty)) Nil else {
        val Seq(x0, x1, y0, y1) = r.map(_.get)
        scheme.keysOf(Geom(0, x0, x1, y0, y1)).sorted
      }
      val want = scheme match {
        case _: CellScheme | _: AdaptiveScheme => declarative(scheme, r).sorted
        case _ => jvm
      }
      def sortedKeys(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
        if (a == null) Nil else a.toLongArray().toSeq.sorted
      val interpreted = sortedKeys(e.eval(row(r)).asInstanceOf[
        org.apache.spark.sql.catalyst.util.ArrayData])
      val generated = {
        val out = UnsafeProjection.create(Seq(e)).apply(row(r))
        if (out.isNullAt(0)) Nil else sortedKeys(out.getArray(0))
      }
      (interpreted == want) :| s"interpreted $interpreted != $want" &&
        (generated == want) :| s"generated $generated != $want" &&
        (jvm == want) :| s"keysOf $jvm != $want"
    }
}
