package graft.skew

import graft.cells.{CellScheme, KeyScheme}
import graft.geom.Geom
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Adaptive refinement of hot cells — the Spark re-expression of the
  * reference's quadtree cell splitting under a comparison budget
  * (`partition_multi.hpp:106-189`, budget `constants.hpp:4`).
  *
  * A coarse grid is planned first; cells whose |A|·|B| candidate product
  * exceeds the budget are split into an `s × s` local subgrid (one-shot,
  * `s` sized so the expected per-subcell product lands under budget). The
  * final join key packs (base cell, subcell) into one Long, so the downstream
  * plan is still a single equi-join/keyed join — skew handling never adds a
  * shuffle. Min subcell size is clamped to the sampled median object extent
  * (`partition_utils.hpp:226-277` semantics) to bound replication blow-up.
  */
/** `perCellMean` (optional, set by [[AdaptiveCells.plan]]): mean occupied-cell
  * population per side, measured by the planning pass — the zero-splits
  * fallthrough routes its inner loop on it (sweep/STR for dense cells,
  * declarative SMJ otherwise) instead of re-deriving a borderline estimate
  * from Catalyst byte statistics.
  */
final case class AdaptiveScheme(base: CellScheme, splits: Map[Long, Int],
                                perCellMean: Double = -1.0) extends KeyScheme {
  // key layout: base cell id << 12 | (1 + subIdx); plain cells use subIdx slot 0
  private final val SubBits = 12
  require(splits.values.forall(s => s * s < (1 << SubBits) - 1), "split factor too large")

  // the split lookup sits on the PER-PAIR hot path (ownership test of every
  // emitted candidate): a scala Map[Long, Int] boxes the key on every get —
  // primitive sorted-array binary search instead (splits are few by
  // construction: only over-budget cells)
  @transient private lazy val splitCells: Array[Long] = splits.keys.toArray.sorted
  @transient private lazy val splitFactors: Array[Int] =
    splitCells.map(splits) // aligned with splitCells
  @inline private def splitOf(c: Long): Int = {
    val i = java.util.Arrays.binarySearch(splitCells, c)
    if (i >= 0) splitFactors(i) else 0
  }

  @inline private def subCoord(v: Double, lo: Double, len: Double, s: Int): Int = {
    val i = math.floor((v - lo) / len).toInt
    math.max(0, math.min(i, s - 1))
  }

  def keyOf(x: Double, y: Double): Long = {
    val c = base.cellOf(x, y)
    splitOf(c) match {
      case 0 => c << SubBits
      case s =>
        val cx = (c % base.nx).toInt; val cy = (c / base.nx).toInt
        val lox = base.extent.xmin + cx * base.cellW
        val loy = base.extent.ymin + cy * base.cellH
        val sx = subCoord(x, lox, base.cellW / s, s)
        val sy = subCoord(y, loy, base.cellH / s, s)
        (c << SubBits) | (1L + sy.toLong * s + sx)
    }
  }

  /** Walks the keys of an MBR: counts them, and stores them into `out`
    * unless it is null (count pass, then fill pass — one array per row).
    */
  private def walk(xmin: Double, xmax: Double, ymin: Double, ymax: Double,
                   out: UnsafeArrayData): Long = {
    val ax = base.cellX(xmin); val bx = base.cellX(xmax)
    val ay = base.cellY(ymin); val by = base.cellY(ymax)
    val cx0 = math.min(ax, bx); val cx1 = math.max(ax, bx)
    val cy0 = math.min(ay, by); val cy1 = math.max(ay, by)
    var n = 0L
    var cy = cy0
    while (cy <= cy1) {
      var cx = cx0
      while (cx <= cx1) {
        val c = base.cellId(cx, cy)
        splitOf(c) match {
          case 0 =>
            if (out != null) out.setLong(n.toInt, c << SubBits)
            n += 1
          case s =>
            val lox = base.extent.xmin + cx * base.cellW
            val loy = base.extent.ymin + cy * base.cellH
            val subW = base.cellW / s; val subH = base.cellH / s
            val px = subCoord(xmin, lox, subW, s); val qx = subCoord(xmax, lox, subW, s)
            val py = subCoord(ymin, loy, subH, s); val qy = subCoord(ymax, loy, subH, s)
            val sx0 = math.min(px, qx); val sx1 = math.max(px, qx)
            val sy0 = math.min(py, qy); val sy1 = math.max(py, qy)
            if (out == null) n += (sx1 - sx0 + 1).toLong * (sy1 - sy0 + 1)
            else {
              var sy = sy0
              while (sy <= sy1) {
                var sx = sx0
                while (sx <= sx1) {
                  out.setLong(n.toInt, (c << SubBits) | (1L + sy.toLong * s + sx))
                  n += 1; sx += 1
                }
                sy += 1
              }
            }
        }
        cx += 1
      }
      cy += 1
    }
    n
  }

  def keys(xmin: Double, xmax: Double, ymin: Double, ymax: Double): UnsafeArrayData = {
    val out = KeyScheme.longArray(walk(xmin, xmax, ymin, ymax, null))
    walk(xmin, xmax, ymin, ymax, out)
    out
  }

  def describe: String = s"${base.describe}, ${splits.size} split cells"
}

/** One planning task's sampled replica rows: `(cell, w, h)` of at most the
  * task's row cap, chosen uniformly (reservoir) out of the `seen` replica
  * rows the task read.
  */
private[graft] final class PlanRows(val cells: Array[Long], val w: Array[Double],
                                    val h: Array[Double], val n: Int, val seen: Long)
    extends Serializable

private[graft] object PlanRows {
  def collect(it: Iterator[InternalRow], cap: Int, seed: Long): PlanRows = {
    var cells = new Array[Long](math.min(cap, 1024))
    var w = new Array[Double](cells.length)
    var h = new Array[Double](cells.length)
    val rnd = new java.util.SplittableRandom(seed)
    var seen = 0L
    while (it.hasNext) {
      val r = it.next()
      val slot =
        if (seen < cap) {
          if (seen == cells.length) {
            val m = math.min(cap.toLong, 2L * cells.length).toInt
            cells = java.util.Arrays.copyOf(cells, m)
            w = java.util.Arrays.copyOf(w, m)
            h = java.util.Arrays.copyOf(h, m)
          }
          seen.toInt
        } else {
          val j = rnd.nextLong(seen + 1)
          if (j < cap) j.toInt else -1
        }
      if (slot >= 0) { cells(slot) = r.getLong(0); w(slot) = r.getDouble(1); h(slot) = r.getDouble(2) }
      seen += 1
    }
    new PlanRows(cells, w, h, math.min(seen, cap.toLong).toInt, seen)
  }
}

object AdaptiveCells {

  /** Most sampled replica rows one plan collects to the driver (~24 B
    * each); above it every planning task keeps a uniform subsample of its
    * rows.
    */
  private val PlanRowCap: Int = 1 << 21

  /** Plan splits from per-cell counts: a hot cell gets an s×s subgrid with
    * s ≈ (|A|·|B| / budget)^(1/4) (each side shrinks ~s², the product ~s⁴
    * under uniformity), clamped by the cell's own MEDIAN object size so a
    * subcell never drops below ~2 typical object extents (replication
    * bound robust to an oversized minority inside the cell).
    *
    * "Hot" is a CONCENTRATION criterion, not an absolute one: a cell is
    * split only when its pair product exceeds
    * `sumProd / (spreadFactor · parallelism)` — i.e. the cell alone holds
    * more work than a balanced schedule would hand one worker, so leaving it
    * whole serializes the join (the reference splits to fix *skew*,
    * `partition_multi.hpp:106-189`, not density). On evenly dense inputs many
    * cells exceed any absolute budget yet none dominates — splitting there
    * only multiplies replication and map-side work for zero tail-latency win
    * (measured 8× slower than the plain sweep on a gaussian 197×197-cell
    * workload where the old `|A|·|B| > budget` rule fired everywhere).
    * `budgetPairs` remains the floor of the threshold and sizes `s`.
    *
    * `sampleFraction < 1` estimates per-cell counts from a sample (scaled
    * back up) — at petabyte scale the planning pass must not read the full
    * input. Splits are a performance heuristic only; exactly-once
    * correctness never depends on the estimate (reference-point ownership is
    * local arithmetic, SkewSpec asserts oracle equality on sampled plans).
    *
    * Cost: ONE Spark job with one stage over the input (no shuffle, no
    * persist). Each task replicates its rows with the join's own
    * `cell_keys` and returns the narrow `(cell, w, h)` replica rows, at most
    * [[PlanRowCap]] in total; the driver derives counts, the work
    * distribution, the hot cells and their exact median extents locally.
    */
  def plan(a: Dataset[Geom], b: Dataset[Geom], base: CellScheme,
           budgetPairs: Long = 4L * 1024 * 1024, maxSplit: Int = 32,
           sampleFraction: Double = 1.0, spreadFactor: Double = 4.0): AdaptiveScheme = {
    val sc = a.sparkSession.sparkContext
    def replicas(ds: Dataset[Geom]) =
      ds.select(graft.join.SpatialJoins.explodeKeys(base, col("xmin"), col("xmax"),
          col("ymin"), col("ymax")).as("cell"),
        (col("xmax") - col("xmin")).as("w"), (col("ymax") - col("ymin")).as("h"))
        .queryExecution.toRdd
    // PARTITION-level sampling: a Bernoulli `sample()` still SCANS every
    // input row. Keeping whole partitions (a deterministic stride over the
    // partition index) reads only the kept partitions — the job simply runs
    // no task for the others. Bias guard: at least 4 partitions are kept,
    // stride-SPREAD across the input (an id- or file-ordered layout
    // contributes from its whole span), and inputs with < 16 partitions fall
    // back to the Bernoulli sample. A biased sample costs plan quality,
    // never correctness.
    def side(ds: Dataset[Geom], seed: Long) = {
      val all = replicas(ds)
      val p = all.getNumPartitions
      val want = math.max(4, math.round(p * sampleFraction).toInt)
      if (sampleFraction >= 1.0) (all, 0 until p, 1.0)
      else if (p < 16 || want >= p) {
        val s = replicas(ds.sample(sampleFraction, seed))
        (s, 0 until s.getNumPartitions, 1.0 / sampleFraction)
      } else {
        val kept = 0 until p by (p / want)
        (all, kept, p.toDouble / kept.size)
      }
    }
    val (ra, keptA, scaleA) = side(a, 42L)
    val (rb, keptB, scaleB) = side(b, 43L)
    val parts = keptA ++ keptB.map(_ + ra.getNumPartitions)
    val cap = math.max(1, PlanRowCap / math.max(1, parts.size))
    val got = sc.runJob(sc.union(ra, rb),
      (ctx: TaskContext, it: Iterator[InternalRow]) =>
        PlanRows.collect(it, cap, ctx.partitionId().toLong), parts)

    // per-cell counts (a row stands for seen/n replicas of its task, times
    // the side's sampling scale). Products are compared in double: at
    // petabyte scale they overflow int64.
    final class Cell {
      var na = 0.0; var nb = 0.0; var rows = 0
      var ws: Array[Double] = null; var hs: Array[Double] = null; var k = 0
    }
    val cells = scala.collection.mutable.LongMap.empty[Cell]
    got.iterator.zipWithIndex.foreach { case (t, i) =>
      val wt = if (t.n == 0) 0.0 else t.seen.toDouble / t.n
      var j = 0
      while (j < t.n) {
        val c = cells.getOrElseUpdate(t.cells(j), new Cell)
        if (i < keptA.size) c.na += wt else c.nb += wt
        c.rows += 1
        j += 1
      }
    }
    def prod(c: Cell) = c.na * scaleA * (c.nb * scaleB)
    val totalA = cells.valuesIterator.map(_.na).sum * scaleA
    val totalB = cells.valuesIterator.map(_.nb).sum * scaleB
    val sumProd = cells.valuesIterator.map(prod).sum
    val perCellMean = math.max(totalA, totalB) / math.max(1, cells.size)
    val parallelism = math.max(1, sc.defaultParallelism)
    // split threshold: the larger of the absolute budget and the balanced
    // per-worker share of total candidate work — a cell below the share can
    // never be the straggler, so splitting it buys nothing
    val splitThreshold =
      math.max(budgetPairs.toDouble, sumProd / (spreadFactor * parallelism))
    val hot = cells.filter { case (_, c) => prod(c) > splitThreshold }
    if (hot.isEmpty) return AdaptiveScheme(base, Map.empty, perCellMean)
    // split clamp: a subcell must stay ≥ ~2 MEDIAN object extents OF THE
    // CELL BEING SPLIT (reference stop rule `partition_utils.hpp:226-277`
    // samples a global median; per-cell is strictly more targeted). Per-cell
    // matters under mixed sizes: a handful of map-spanning objects replicate
    // into thousands of cells and would drag any replica-weighted GLOBAL
    // statistic up to their own size, vetoing splits of hot cells full of
    // small objects. MEDIAN (not mean) matters INSIDE a hot cell: a 30%
    // minority of cell-sized residents pulls the mean to ~0.3 cell widths
    // (cap 1 — split vetoed) while the majority is tiny and splits fine; the
    // median tracks the majority and only vetoes when most residents really
    // span the cell. sCap < 2 means no split at all.
    hot.valuesIterator.foreach { c => c.ws = new Array[Double](c.rows); c.hs = new Array[Double](c.rows) }
    got.foreach { t =>
      var j = 0
      while (j < t.n) {
        val c = hot.getOrNull(t.cells(j))
        if (c != null) { c.ws(c.k) = t.w(j); c.hs(c.k) = t.h(j); c.k += 1 }
        j += 1
      }
    }
    def median(vs: Array[Double]): Double = {
      java.util.Arrays.sort(vs); vs((vs.length - 1) / 2)
    }
    val splits = hot.map { case (k, c) =>
      val mw = median(c.ws); val mh = median(c.hs)
      val sCapW = math.max(1, (base.cellW / (2 * math.max(mw, 1e-12))).toInt)
      val sCapH = math.max(1, (base.cellH / (2 * math.max(mh, 1e-12))).toInt)
      val sCap = math.min(maxSplit, math.min(sCapW, sCapH))
      val s = math.ceil(math.pow(prod(c) / budgetPairs, 0.25)).toInt + 1
      k -> math.min(s, sCap)
    }.filter(_._2 >= 2).toMap
    AdaptiveScheme(base, splits, perCellMean)
  }
}
