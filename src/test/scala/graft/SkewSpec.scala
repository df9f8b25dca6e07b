package graft

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.ingest.Workloads
import graft.join.SpatialJoins
import graft.skew.{AdaptiveCells, AdaptiveScheme}
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("adaptive scheme: exactly-once ownership on hot-cell boundaries") {
    val base = CellScheme(Extent(0, 100, 0, 100), 4, 4)
    val scheme = AdaptiveScheme(base, Map(0L -> 3, 5L -> 2))
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 3000) {
      def g() = {
        val x = rnd.nextDouble() * 100; val y = rnd.nextDouble() * 100
        Geom(rnd.nextLong(), x, x + rnd.nextDouble() * 30, y, y + rnd.nextDouble() * 30)
      }
      val a = g(); val b = g()
      if (a.intersects(b)) {
        val owners = (scheme.keysOf(a).toSet intersect scheme.keysOf(b).toSet)
          .count(k => scheme.owns(k, a, b))
        assert(owners == 1, s"$a x $b")
      }
    }
  }

  test("gridJoinAdaptive == oracle on skewed gaussian workload, splits trigger") {
    val a = Workloads.gaussianPolygons(spark, 4000, seed = 1, mapEdge = 1000.0, meanEdge = 8.0)
    val b = Workloads.gaussianPolygons(spark, 4000, seed = 2, mapEdge = 1000.0, meanEdge = 8.0)
    val ext = Extent(0, 1012, 0, 1012)
    val base = CellScheme(ext, 8, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 10000)
    assert(planned.splits.nonEmpty, "expected hot cells on a gaussian mixture")
    val got = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 10000))
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("sample-based split planning stays oracle-equal (correctness never depends on estimates)") {
    val a = Workloads.gaussianPolygons(spark, 3000, seed = 5, mapEdge = 1000.0, meanEdge = 8.0)
    val b = Workloads.gaussianPolygons(spark, 3000, seed = 6, mapEdge = 1000.0, meanEdge = 8.0)
    val base = CellScheme(Extent(0, 1012, 0, 1012), 8, 8)
    val scheme = AdaptiveCells.plan(a, b, base, budgetPairs = 10000, sampleFraction = 0.1)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def rep(ds: org.apache.spark.sql.Dataset[Geom]) =
      ds.flatMap(g => scheme.keysOf(g).map(k => (k, g)))
    val got = rep(a).toDF("k", "a").join(rep(b).toDF("k2", "b"), col("k") === col("k2"))
      .as[(Long, Geom, Long, Geom)]
      .flatMap { case (k, ga, _, gb) =>
        if (ga.intersects(gb) && scheme.owns(k, ga, gb)) Some((ga.id, gb.id)) else None }
      .collect().toSet
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want)
  }

  test("partition-stride sampled planning stays oracle-equal (≥16-partition inputs skip the Bernoulli scan)") {
    // 32-partition inputs at sampleFraction 0.1 take the partition-stride
    // sample (keep = max(4, 3) of 32); the plan may differ from the
    // Bernoulli estimate's, but the JOIN result never can
    val a = Workloads.gaussianPolygons(spark, 3000, seed = 5, mapEdge = 1000.0,
      meanEdge = 8.0).repartition(32)
    val b = Workloads.gaussianPolygons(spark, 3000, seed = 6, mapEdge = 1000.0,
      meanEdge = 8.0).repartition(32)
    val base = CellScheme(Extent(0, 1012, 0, 1012), 8, 8)
    val got = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 10000,
      planSampleFraction = 0.1))
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("hot-corner regime: adaptive == grid-sweep == salted, splits trigger") {
    val a = Workloads.hotspotPolygons(spark, 20000, seed = 11, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.05)
    val b = Workloads.hotspotPolygons(spark, 20000, seed = 12, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 2.0, meanEdge = 0.05)
    val ext = Extent(0, 1001, 0, 1001)
    val base = CellScheme(ext, 10, 10)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 100000)
    assert(planned.splits.nonEmpty, "the hot corner must exceed the pair budget")
    val adaptive = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 100000))
    val sweep = pairs(SpatialJoins.gridJoinSweep(a, b, base))
    val salted = pairs(SpatialJoins.gridJoinSalted(a, b, base, salt = 4))
    assert(adaptive == sweep && adaptive == salted && adaptive.nonEmpty)
  }

  test("concentration gate: evenly dense cells plan ZERO splits even far over budget") {
    // every cell's |A|·|B| (~312² ≈ 97k) is ~100× the budget — the r4 rule
    // split them all (measured 8× slower than the plain sweep on the
    // OSM-PP-class bench); the gate must see that NO cell dominates the
    // total work (max share ~1/64 ≪ 1/(spread·parallelism)) and plan none
    val a = Workloads.uniformPolygons(spark, 20000, seed = 31, mapEdge = 1000.0)
    val b = Workloads.uniformPolygons(spark, 20000, seed = 32, mapEdge = 1000.0)
    val base = CellScheme(Extent(0, 1001, 0, 1001), 8, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 1000)
    assert(planned.splits.isEmpty,
      s"even density must not split (got ${planned.splits.size} splits)")
    // and the join (routed to the plain-grid plan) stays exact
    val got = pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 1000))
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(got == want && want.nonEmpty)
  }

  test("split clamp is per cell: map-spanning outliers elsewhere don't veto hot-cell splits") {
    // a hot district of SMALL objects must still split when the corpus also
    // contains a few map-sized objects: those replicate into thousands of
    // cells, and any replica-weighted GLOBAL size statistic would be dragged
    // up to their extent, collapsing the split cap to 1 everywhere. The
    // per-cell clamp reads only the hot cell's own median extent.
    import spark.implicits._
    val hotA = Workloads.hotspotPolygons(spark, 4000, seed = 51, mapEdge = 1000.0,
      hotFrac = 0.6, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val hotB = Workloads.hotspotPolygons(spark, 4000, seed = 52, mapEdge = 1000.0,
      hotFrac = 0.6, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    // 8 giants per side, each covering most of the map but NOT the hot corner
    def giants(idBase: Long) = spark.createDataset((0 until 8).map { i =>
      Geom(idBase + i, 200.0 + i, 990.0, 200.0 + i, 990.0)
    })
    val a = hotA.unionByName(giants(1000000L))
    val b = hotB.unionByName(giants(2000000L))
    val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 100000)
    val hotCell = base.cellOf(100.5, 100.5)
    assert(planned.splits.getOrElse(hotCell, 1) >= 2,
      s"hot cell $hotCell must split despite outliers (splits=${planned.splits})")
    // and the join stays exact with the outliers in play
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 100000)) == want)
    assert(want.nonEmpty)
  }

  test("split clamp is a per-cell MEDIAN: an oversized minority inside the hot cell doesn't veto") {
    // 70% tiny objects + 30% near-cell-sized ones in the SAME hot cell: the
    // cell's mean extent is ~0.3 cell widths (cap 1 — split vetoed) while
    // the median tracks the tiny majority, so the clamp must still allow a
    // split. The join stays exact either way (splits are performance-only).
    import spark.implicits._
    val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16) // ~62.6-unit cells
    // hot cell around (100, 100): cell [62.56..125.1)²
    def mk(id: Long, cx: Double, cy: Double, edge: Double) =
      Geom(id, cx, math.min(cx + edge, 125.0), cy, math.min(cy + edge, 125.0))
    def side(idBase: Long, seed: Int) = spark.createDataset((0 until 1000).map { i =>
      val rnd = new scala.util.Random(seed * 100003 + i)
      val cx = 63.0 + rnd.nextDouble() * 55.0
      val cy = 63.0 + rnd.nextDouble() * 55.0
      if (i % 10 < 7) mk(idBase + i, cx, cy, 0.05)     // 70% tiny
      else mk(idBase + i, 63.0, 63.0, 55.0)            // 30% ~cell-sized
    })
    val a = side(0L, 7)
    val b = side(1000000L, 8)
    val planned = AdaptiveCells.plan(a, b, base, budgetPairs = 10000)
    val hotCell = base.cellOf(100.0, 100.0)
    assert(planned.splits.getOrElse(hotCell, 1) >= 2,
      s"median clamp must let the 70%-tiny hot cell split (splits=${planned.splits})")
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = 10000)) == want)
    assert(want.nonEmpty)
  }

  test("planner on a >2^20-cell grid finds the same hot corner as on a 2^20-cell grid") {
    // the planner collects capped replica rows, never per-cell state sized
    // by the grid, so a grid beyond 2^20 cells plans through the same single
    // job — same threshold logic, splits found, oracle-equal join
    val a = Workloads.hotspotPolygons(spark, 8000, seed = 41, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val b = Workloads.hotspotPolygons(spark, 8000, seed = 42, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05)
    val ext = Extent(0, 1001, 0, 1001)
    val small = CellScheme(ext, 1024, 1024)       // = 2^20 cells
    val large = CellScheme(ext, 2048, 1024)       // > 2^20 cells
    val ps = AdaptiveCells.plan(a, b, small, budgetPairs = 100000)
    val pl = AdaptiveCells.plan(a, b, large, budgetPairs = 100000)
    // both paths must find the hot corner (it sits inside one cell on both
    // grids) and produce an exact join
    assert(ps.splits.nonEmpty && pl.splits.nonEmpty)
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(SpatialJoins.gridJoinAdaptive(a, b, large, budgetPairs = 100000)) == want)
    assert(want.nonEmpty)
  }

  test("zero-splits gate: even-density input routes to the plain-grid plan") {
    val a = Workloads.uniformPolygons(spark, 3000, seed = 21, mapEdge = 1000.0)
    val b = Workloads.uniformPolygons(spark, 3000, seed = 22, mapEdge = 1000.0)
    val base = CellScheme(Extent(0, 1001, 0, 1001), 8, 8)
    // huge budget -> no splits planned -> the returned plan must be the
    // declarative grid join (no typed cogroup), not the two-level cogroup
    val planned = SpatialJoins.gridJoinAdaptive(a, b, base, budgetPairs = Long.MaxValue)
    val phys = planned.queryExecution.executedPlan.toString
    assert(!phys.contains("CoGroup"), phys)
    val want = pairs(SpatialJoins.broadcastNL(a, b))
    assert(pairs(planned) == want && want.nonEmpty)
  }

  test("split planning is one job with one stage and no persist") {
    val a = Workloads.hotspotPolygons(spark, 8000, seed = 61, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05).repartition(32).cache()
    val b = Workloads.hotspotPolygons(spark, 8000, seed = 62, mapEdge = 1000.0,
      hotFrac = 0.5, hotX = 100, hotY = 100, hotW = 1.0, meanEdge = 0.05).repartition(32).cache()
    try {
      a.count(); b.count()
      val base = CellScheme(Extent(0, 1001, 0, 1001), 16, 16)
      val hotCell = base.cellOf(100.5, 100.5)
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger // submitted, not skipped
      @volatile var drained = false
      def group(p: java.util.Properties) = Option(p).map(_.getProperty("spark.jobGroup.id"))
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          group(e.properties) match {
            case Some("plan-probe") => jobs.incrementAndGet()
            case Some("plan-probe-end") => drained = true
            case _ =>
          }
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          if (group(e.properties).contains("plan-probe")) stages.incrementAndGet()
      }
      sc.addSparkListener(listener)
      val persisted = sc.getPersistentRDDs.size
      try {
        for (fraction <- Seq(1.0, 0.1)) {
          jobs.set(0); stages.set(0); drained = false
          sc.setJobGroup("plan-probe", "adaptive planning")
          val planned = try AdaptiveCells.plan(a, b, base, budgetPairs = 100000,
              sampleFraction = fraction)
            finally sc.clearJobGroup()
          sc.setJobGroup("plan-probe-end", "listener barrier")
          try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
          assert(drained)
          assert(jobs.get == 1 && stages.get == 1,
            s"fraction $fraction: ${jobs.get} jobs, ${stages.get} stages")
          assert(sc.getPersistentRDDs.size == persisted)
          assert(planned.splits.getOrElse(hotCell, 1) >= 2,
            s"fraction $fraction: hot corner must split (splits=${planned.splits})")
        }
      } finally sc.removeSparkListener(listener)
    } finally { a.unpersist(); b.unpersist() }
  }

  test("a planning task over its row cap keeps a uniform subsample and counts what it saw") {
    import org.apache.spark.sql.catalyst.InternalRow
    def rows(n: Int) = Iterator.tabulate(n)(i => InternalRow(i.toLong, i * 0.5, i * 0.25))
    val all = graft.skew.PlanRows.collect(rows(300), cap = 1000, seed = 1L)
    assert(all.n == 300 && all.seen == 300)
    assert(all.cells.take(300).toSeq == (0L until 300L))
    assert((0 until 300).forall(j => all.w(j) == j * 0.5 && all.h(j) == j * 0.25))
    val capped = graft.skew.PlanRows.collect(rows(20000), cap = 1000, seed = 1L)
    assert(capped.n == 1000 && capped.seen == 20000)
    val kept = capped.cells.take(capped.n)
    assert(kept.distinct.length == 1000 && kept.forall(c => c >= 0 && c < 20000))
    assert((0 until 1000).forall(j => capped.w(j) == kept(j) * 0.5))
    // uniform over the whole stream, not the head: every fifth of it is hit
    // in proportion (expected 200 per fifth, sd ~13)
    val perFifth = kept.groupBy(c => (c / 4000).toInt).map { case (k, v) => k -> v.length }
    assert((0 until 5).forall(f => math.abs(perFifth.getOrElse(f, 0) - 200) < 80), perFifth)
  }
}
