package graft

import graft.cells.{BinarySplitScheme, CellScheme, SortTileScheme}
import graft.geom.{Extent, Geom}
import graft.join.SpatialJoins
import graft.skew.{AdaptiveCells, AdaptiveScheme}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Every partitioned route against the `broadcastNL` oracle on hostile rows:
  * rows inverted in x or in y, ±Inf and ±1e300 coordinates, values on grid,
  * stripe, tile, split and subcell edges, extent-spanning rows and points, a
  * cell dense enough for the STR-indexed local join (≥ 512 rows per side),
  * and empty or one-sided inputs. Each route runs under a time limit, so a
  * hang fails instead of stalling the suite. NaN coordinates are left out
  * of the pair-set checks: the declarative plans order NaN as the largest
  * value and the local joins compare it by IEEE rules, and no rule for them
  * is settled yet. They appear only where the grid's extent is checked.
  */
class HostileJoinSpec extends AnyFunSuite with TimeLimits {
  import SpatialJoins._
  private lazy val spark = TestSpark.spark
  implicit val signaler: Signaler = ThreadSignaler

  private val ext = Extent(0, 100, 0, 100)
  /** Edges at multiples of 10. */
  private val grid = CellScheme(ext, 10, 10)
  /** Edges at multiples of 25; the hand split puts subcell edges at multiples of 5. */
  private val base = CellScheme(ext, 4, 4)

  /** A coordinate: on a multiple of 5 (every edge of the schemes here), far
    * out (±Inf, ±1e300, when `far`), or plain.
    */
  private def coord(rnd: scala.util.Random, far: Boolean): Double = rnd.nextInt(10) match {
    case 0 | 1 => rnd.nextInt(21) * 5.0
    case 2 if far => Seq(Double.PositiveInfinity, Double.NegativeInfinity, 1e300, -1e300)(rnd.nextInt(4))
    case _ => rnd.nextDouble() * 110 - 5
  }

  /** Rows: one in five inverted in x or in y, one in ten spanning the
    * extent (to ±1e300 or ±Inf when `far`) on one or both axes, one in ten a
    * point, the rest plain; edges are on multiples of 5 one time in three.
    */
  private def hostile(seed: Int, n: Int, idBase: Long, far: Boolean): Seq[Geom] = {
    val rnd = new scala.util.Random(seed)
    def len() = if (rnd.nextInt(3) == 0) 5.0 * rnd.nextInt(3) else rnd.nextDouble() * 8
    val lo = if (far) Seq(-5.0, -1e300, Double.NegativeInfinity) else Seq(-5.0, 0.0)
    val hi = if (far) Seq(105.0, 1e300, Double.PositiveInfinity) else Seq(105.0, 100.0)
    (0 until n).map { i =>
      val id = idBase + i
      val x = coord(rnd, far); val y = coord(rnd, far)
      val w = len(); val h = len()
      rnd.nextInt(10) match {
        case 0 => Geom(id, x + w + 0.5, x, y, y + h)           // inverted in x
        case 1 => Geom(id, x, x + w, y + h + 0.5, y)           // inverted in y
        case 2 =>                                              // extent-spanning
          val x0 = lo(rnd.nextInt(lo.size)); val x1 = hi(rnd.nextInt(hi.size))
          if (rnd.nextBoolean()) Geom(id, x0, x1, y, y + h)
          else Geom(id, x0, x1, lo(rnd.nextInt(lo.size)), hi(rnd.nextInt(hi.size)))
        case 3 => Geom.point(id, x, y)
        case _ => Geom(id, x, x + w, y, y + h)
      }
    }
  }

  /** `n` small rows packed into [1, 9]², inside one cell of every scheme
    * here: with `n` ≥ 512 on both sides the cell runs the STR-indexed join.
    */
  private def cluster(seed: Int, n: Int, idBase: Long): Seq[Geom] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = 1 + rnd.nextDouble() * 7.9; val y = 1 + rnd.nextDouble() * 7.9
      if (i % 5 == 0) Geom(idBase + i, x + 0.1, x, y, y + 0.1)  // inverted in x
      else Geom(idBase + i, x, x + 0.1, y, y + 0.1)
    }
  }

  private def ds(gs: Seq[Geom]): Dataset[Geom] = {
    import TestSpark.spark.implicits._
    spark.createDataset(gs)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Sort-tile and binary-split schemes whose edges sit on multiples of 10. */
  private val edgeTiles = SortTileScheme(ext, Array(20.0, 50.0),
    Array(Array(10.0, 60.0), Array(30.0, 50.0), Array(40.0, 70.0)))
  private val edgeSplits = BinarySplitScheme(ext, 2, Array(true, false, false),
    Array(50.0, 30.0, 70.0))
  /** The cluster's cell and a neighbour split by hand. */
  private val handSplit = AdaptiveScheme(base, Map(0L -> 5, 5L -> 2))

  /** Every partitioned route of a pair of extended (non-point) inputs. */
  private def routes(a: Dataset[Geom], b: Dataset[Geom]): Seq[(String, () => DataFrame)] = Seq(
    "gridJoin" -> (() => gridJoin(a, b, grid)),
    "gridJoinSweep" -> (() => gridJoinSweep(a, b, grid)),
    "gridJoinSweepHinted" -> (() => gridJoinSweepHinted(a, b, grid, aPts = false, bPts = false)),
    "gridJoinAdaptive" -> (() => gridJoinAdaptive(a, b, base, budgetPairs = 1000,
      planSampleFraction = 1.0)),
    "adaptive (hand split)" -> (() =>
      gridJoinSweepHinted(a, b, handSplit, aPts = false, bPts = false)),
    "stripesJoin" -> (() => stripesJoin(a, b, ext, 13)),
    "sortTileJoin" -> (() => sortTileJoin(a, b, ext, 3, 3)),
    "sortTileJoin (edge tiles)" -> (() => sortTileJoin(a, b, edgeTiles)),
    "binarySplitJoin" -> (() => binarySplitJoin(a, b, ext, 3)),
    "binarySplitJoin (edge splits)" -> (() => binarySplitJoin(a, b, edgeSplits)),
    "intersectJoin" -> (() => intersectJoin(a, b, broadcastThreshold = 10)))

  /** Routes whose a side is all points. */
  private def pointRoutes(pts: Dataset[Geom], b: Dataset[Geom]): Seq[(String, () => DataFrame)] =
    routes(pts, b) ++ Seq(
      "gridJoinPIP" -> (() => gridJoinPIP(pts, b, grid)),
      "gridJoinSweepHinted (point side)" -> (() =>
        gridJoinSweepHinted(pts, b, grid, aPts = true, bPts = false)),
      "gridJoinSweepHinted (point b side)" -> (() =>
        gridJoinSweepHinted(b, pts, grid, aPts = false, bPts = true)
          .select(org.apache.spark.sql.functions.col("b_id"),
            org.apache.spark.sql.functions.col("a_id"))))

  private def check(label: String, a: Dataset[Geom], b: Dataset[Geom],
                    rs: Seq[(String, () => DataFrame)]): Set[(Long, Long)] = {
    val oracle = pairs(broadcastNL(a, b))
    val wrong = rs.flatMap { case (name, run) =>
      val got = failAfter(120.seconds)(pairs(run()))
      val missing = oracle -- got; val extra = got -- oracle
      if (missing.isEmpty && extra.isEmpty) None
      else Some(s"$name: ${missing.size} missing ${missing.take(3)}, " +
        s"${extra.size} extra ${extra.take(3)}")
    }
    val exact = wrong.isEmpty
    assert(exact, s"on $label (${oracle.size} pairs): ${wrong.mkString("; ")}")
    oracle
  }

  test("a row inverted in y never pairs through the sweep's half y-test") {
    val a = ds(Seq(Geom(1, 0, 10, 0, 10)))
    val b = ds(Seq(Geom(2, 2, 4, 5, -1)))
    assert(check("the repro", a, b, routes(a, b)).isEmpty)
  }

  test("hostile rows with ±Inf / ±1e300, an STR-dense cell: every route == broadcastNL") {
    val a = ds(hostile(1, 1500, 0L, far = true) ++ cluster(3, 600, 100000L))
    val b = ds(hostile(2, 1200, 200000L, far = true) ++ cluster(4, 600, 300000L))
    assert(AdaptiveCells.plan(a, b, base, budgetPairs = 1000).splits.nonEmpty,
      "the cluster cell must be split")
    val oracle = check("far hostile rows", a, b, routes(a, b))
    assert(oracle.size > 1000)
  }

  test("hostile finite rows (intersectJoin's grid route): every route == broadcastNL") {
    val a = ds(hostile(5, 1500, 0L, far = false))
    val b = ds(hostile(6, 1500, 200000L, far = false))
    assert(check("finite hostile rows", a, b, routes(a, b)).nonEmpty)
  }

  test("points on edges, far out and spanning the extent: every point route == broadcastNL") {
    val rnd = new scala.util.Random(7)
    val pts = ds((0 until 1500).map { i =>
      if (i % 10 == 0) Geom.point(i, Seq(-5.0, 0.0, 100.0, 105.0)(rnd.nextInt(4)),
        Seq(-5.0, 0.0, 100.0, 105.0)(rnd.nextInt(4)))
      else Geom.point(i, coord(rnd, far = true), coord(rnd, far = true))
    } ++ cluster(8, 600, 10000L).map(g => Geom.point(g.id, g.xmin, g.ymin)))
    val polys = ds(hostile(9, 1500, 200000L, far = true) ++ cluster(10, 600, 300000L))
    assert(check("points × far hostile rows", pts, polys, pointRoutes(pts, polys)).nonEmpty)
    // finite points: the evidence pass sees a point side (an infinite
    // point's |edge| is NaN), so intersectJoin takes its PIP route
    val finite = pts.filter(g => !g.xmin.isInfinite && !g.ymin.isInfinite)
    val plain = ds(hostile(12, 1500, 200000L, far = false))
    assert(check("finite points × finite hostile rows", finite, plain,
      pointRoutes(finite, plain)).nonEmpty)
    val generators = intersectJoin(finite, plain, broadcastThreshold = 10)
      .queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
    assert(generators.size == 1, "intersectJoin must take its PIP route")
  }

  /** The extents of every grid in `df`'s `cell_keys`/`cell_of` expressions. */
  private def gridBoxes(df: DataFrame): Set[String] =
    "(?:cell_keys|cell_of)\\(grid \\d+x\\d+ (\\[[^\\]]*\\]x\\[[^\\]]*\\])".r
      .findAllMatchIn(df.queryExecution.optimizedPlan.toString).map(_.group(1)).toSet

  test("±Inf and NaN coordinates do not size intersectJoin's grid") {
    val rnd = new scala.util.Random(13)
    def box(n: Int, idBase: Long): Seq[Geom] = (0 until n).map { i =>
      val x = rnd.nextDouble() * 95; val y = rnd.nextDouble() * 95
      Geom(idBase + i, x, x + rnd.nextDouble() * 5, y, y + rnd.nextDouble() * 5)
    } ++ Seq(Geom(idBase + n, 0, 1, 0, 1), Geom(idBase + n + 1, 99, 100, 99, 100))
    val inf = Double.PositiveInfinity
    val a = ds(box(600, 0L) :+ Geom(20000, -inf, 3, 4, 5))
    val b = ds(box(600, 10000L) :+ Geom(20001, 6, inf, 7, inf))
    val nan = ds(box(600, 10000L) :+ Geom(20002, 10, Double.NaN, 10, Double.NaN))
    assert(gridBoxes(intersectJoin(a, b, broadcastThreshold = 10)) == Set("[0,100]x[0,100]"))
    assert(gridBoxes(intersectJoin(a, nan, broadcastThreshold = 10)) == Set("[0,100]x[0,100]"))
    assert(check("±Inf rows", a, b,
      Seq("intersectJoin" -> (() => intersectJoin(a, b, broadcastThreshold = 10)))).nonEmpty)
    // no finite bound on either axis: a unit extent, not a broadcast
    val far = ds((0 until 20).map(i => Geom(i, -inf, if (i % 2 == 0) inf else -inf, -inf, inf)))
    assert(gridBoxes(intersectJoin(far, far, broadcastThreshold = 10)) == Set("[0,1]x[0,1]"))
    assert(check("rows with no finite coordinate", far, far,
      Seq("intersectJoin" -> (() => intersectJoin(far, far, broadcastThreshold = 10)))).nonEmpty)
  }

  test("empty and one-sided inputs: every route is empty") {
    val some = ds(hostile(11, 300, 0L, far = true))
    val none = ds(Seq.empty[Geom])
    for ((a, b, label) <- Seq((none, none, "empty × empty"), (some, none, "rows × empty"),
                              (none, some, "empty × rows")))
      assert(check(label, a, b, routes(a, b)).isEmpty)
    val pts = ds(Seq(Geom.point(1, 5, 5), Geom.point(2, 50, 50)))
    assert(check("points × empty", pts, none, pointRoutes(pts, none)).isEmpty)
  }
}
