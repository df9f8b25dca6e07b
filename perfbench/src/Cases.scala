package perfbench

import graft.cells.CellScheme
import graft.geom.{Extent, Geom}
import graft.ingest.Workloads
import graft.join.SpatialJoins
import graft.plans.{GraftSql, SpatialJoinRule}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The two join inputs of one workload. */
final case class Inputs(a: Dataset[Geom], b: Dataset[Geom]) {
  /** Same rows under a logical plan the engine has not seen: `id >= -k` is
    * always true for generated ids but cannot be constant-folded, so no
    * planning result memoized for an earlier rep can be reused.
    */
  def fresh(k: Int): Inputs =
    Inputs(a.filter(col("id") >= -k.toLong), b.filter(col("id") >= -k.toLong))

  def cache(): Inputs = Inputs(a.cache(), b.cache())
  def unpersist(): Unit = { a.unpersist(); b.unpersist() }
}

/** One benchmark workload. `n` rows per side; `seed` offsets every input
  * seed by `1000 * seed`, so seed 0 gives the reference inputs.
  */
sealed abstract class Case(val name: String, val n: Long, val seed: Long) {
  def generate(spark: SparkSession): Inputs
  /** The entry-point call whose result frame (a_id, b_id) is timed. */
  def join(in: Inputs): DataFrame
  /** A second physical route, run once outside the timer as the checksum reference. */
  def check(in: Inputs): DataFrame
  /** Published pair count at the reference seeds and sizes. */
  def golden: Option[Long]
  /** The join's grid; also handed to `AdaptiveCells.plan` for the skew-planning metric. */
  def grid: CellScheme
  /** Untimed joins after the first one, so that timed joins see a settled JIT. */
  def warmups: Int = 2
  def install(spark: SparkSession): Unit = ()
  protected def ref(s: Long): Long = s + 1000L * seed
}

object Case {
  val Names = Seq("uniform_pp_sql", "clustered_pp")
  private val UniformExt = Extent(0, 10001, 0, 10001)
  private val ClusteredExt = Extent(0, 10003, 0, 10003)

  def apply(name: String, seed: Long, smoke: Boolean): Case = name match {
    case "uniform_pp_sql" => new UniformPpSql(if (smoke) 20000L else 1000000L, seed)
    case "clustered_pp" => new ClusteredPp(if (smoke) 20000L else 350000L, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Uniform PP through the SQL surface: `st_intersects` over temp views,
    * rewritten by `SpatialJoinRule` on the fixed session grid.
    */
  final class UniformPpSql(n: Long, seed: Long) extends Case("uniform_pp_sql", n, seed) {
    private val gridN = CellScheme.forSize(UniformExt, n, targetPerCell = 16, maxN = 8192).nx
    def generate(spark: SparkSession): Inputs =
      Inputs(Workloads.uniformPolygons(spark, n, ref(123)),
             Workloads.uniformPolygons(spark, n, ref(456)))
    override def install(spark: SparkSession): Unit = {
      GraftSql.install(spark)
      spark.conf.set(SpatialJoinRule.ExtentKey, "0,10001,0,10001")
      spark.conf.set(SpatialJoinRule.GridKey, gridN.toString)
    }
    def join(in: Inputs): DataFrame = {
      in.a.createOrReplaceTempView("pp_a")
      in.b.createOrReplaceTempView("pp_b")
      in.a.sparkSession.sql(
        """SELECT a.id AS a_id, b.id AS b_id FROM pp_a a JOIN pp_b b
          | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
          |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    }
    def check(in: Inputs): DataFrame = SpatialJoins.gridJoin(in.a, in.b, grid)
    def golden: Option[Long] = if (seed == 0 && n == 1000000L) Some(40428L) else None
    def grid: CellScheme = CellScheme(UniformExt, gridN, gridN)
  }

  /** Clustered PP: PBSM with adaptive hot-cell refinement on gaussian
    * clusters, the output-heavy regime.
    */
  final class ClusteredPp(n: Long, seed: Long) extends Case("clustered_pp", n, seed) {
    def generate(spark: SparkSession): Inputs =
      Inputs(Clustered.polygons(spark, n, layoutSeed = 1, rowSeed = ref(1)),
             Clustered.polygons(spark, n, layoutSeed = 2, rowSeed = ref(2)))
    def join(in: Inputs): DataFrame =
      SpatialJoins.gridJoinAdaptive(in.a, in.b, grid, budgetPairs = 1L << 22)
    def check(in: Inputs): DataFrame = SpatialJoins.intersectJoin(in.a, in.b)
    def golden: Option[Long] = if (seed == 0 && n == 350000L) Some(884596L) else None
    def grid: CellScheme = CellScheme.forSize(ClusteredExt, n, targetPerCell = 512, maxN = 1024)
    // with two, its timed joins still got faster rep after rep
    override def warmups: Int = 4
  }
}

/** `Workloads.gaussianPolygons` with the cluster layout and the per-row draws
  * seeded apart. The layout sets how much work a join does (which clusters
  * of the two sides overlap), so it stays fixed per side while `rowSeed`
  * varies the rows; with `rowSeed == layoutSeed` the output equals
  * `Workloads.gaussianPolygons(spark, n, layoutSeed, meanEdge)`.
  */
object Clustered {
  def polygons(spark: SparkSession, n: Long, layoutSeed: Long, rowSeed: Long,
               mapEdge: Double = 10000.0, meanEdge: Double = 19.1,
               clusters: Int = 8, parts: Int = 32): Dataset[Geom] = {
    import spark.implicits._
    val p = math.min(parts.toLong, math.max(1L, n / 1024L)).toInt
    spark.range(0, p, 1, p).flatMap { t =>
      val lo = n * t / p
      val hi = n * (t + 1) / p
      (lo until hi).iterator.map { id =>
        var s = rowSeed ^ (id * 0x9e3779b97f4a7c15L)
        s ^= s >>> 33; s *= 0xff51afd7ed558ccdL
        s ^= s >>> 33; s *= 0xc4ceb9fe1a85ec53L
        s ^= s >>> 33
        val r = new java.util.SplittableRandom(s)
        val c = r.nextInt(clusters)
        val cr = new java.util.SplittableRandom(layoutSeed * 31 + c)
        val cx = cr.nextDouble() * mapEdge
        val cy = cr.nextDouble() * mapEdge
        val sd = mapEdge / 40.0
        def clip(v: Double) = math.max(0.0, math.min(mapEdge, v))
        val xl = clip(cx + r.nextGaussian() * sd)
        val yl = clip(cy + r.nextGaussian() * sd)
        val e = meanEdge * (0.25 + 1.5 * r.nextDouble())
        Geom(id, Workloads.roundTrip2f(xl), Workloads.roundTrip2f(xl + e),
          Workloads.roundTrip2f(yl), Workloads.roundTrip2f(yl + e))
      }
    }
  }
}
