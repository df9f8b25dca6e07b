package graft

import graft.plans.{GraftSql, SpatialJoinRule}
import org.scalatest.funsuite.AnyFunSuite

class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `Sequence` expressions anywhere in a frame's optimized plan. */
  private def sequences(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case q: org.apache.spark.sql.catalyst.expressions.Sequence => q
    })).size

  test("st_intersects join is rewritten to the cell plan and matches the oracle") {
    GraftSql.install(spark)
    spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
    spark.conf.set(SpatialJoinRule.GridKey, "32")
    val dir = "/root/testdata/sf0.001"
    val a = graft.api.Derived.partRects.load(spark, dir)
    val b = graft.api.Derived.ordersRects.load(spark, dir)
    a.createOrReplaceTempView("sql_a")
    b.createOrReplaceTempView("sql_b")
    val df = spark.sql(
      """SELECT a.id AS a_id, b.id AS b_id FROM sql_a a JOIN sql_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
      s"rewrite did not fire:\n$phys")
    assert(sequences(df) == 0)
    // explain names the grid the rule used
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(explained.contains("cell_keys(grid 32x32 [0,1000]x[0,1000]"), explained)
    assert(explained.contains("cell_of(grid 32x32 [0,1000]x[0,1000]"), explained)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.join.SpatialJoins.broadcastNL(a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("st_within / st_contains / st_dwithin joins rewrite and match brute force") {
    GraftSql.install(spark)
    spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
    spark.conf.set(SpatialJoinRule.GridKey, "32")
    val dir = "/root/testdata/sf0.001"
    val a = graft.api.Derived.partRects.load(spark, dir)
    val b = graft.api.Derived.ordersRects.load(spark, dir)
    a.createOrReplaceTempView("sqlv_a")
    b.createOrReplaceTempView("sqlv_b")
    import org.apache.spark.sql.functions._
    val coords = "a.xmin, a.xmax, a.ymin, a.ymax, b.xmin, b.xmax, b.ymin, b.ymax"
    def run(fn: String, extra: String = "") = {
      val df = spark.sql(
        s"SELECT a.id AS a_id, b.id AS b_id FROM sqlv_a a JOIN sqlv_b b ON $fn($coords$extra)")
      val phys = df.queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"),
        s"$fn rewrite did not fire:\n$phys")
      assert(sequences(df) == 0, fn)
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def pref(ds: org.apache.spark.sql.Dataset[graft.geom.Geom], p: String) =
      ds.toDF(s"${p}_id", s"${p}_xmin", s"${p}_xmax", s"${p}_ymin", s"${p}_ymax")
    def brute(p: org.apache.spark.sql.Column) =
      pref(a, "a").join(broadcast(pref(b, "b")), p)
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import graft.join.SpatialJoins.{withinPred, containsPred, minDistCol}
    assert(run("st_within") == brute(withinPred))
    assert(run("st_contains") == brute(containsPred))
    assert(run("st_dwithin", ", 8.0D") == brute(minDistCol <= 8.0))
    assert(run("st_within").nonEmpty && run("st_contains").nonEmpty)
  }

  test("structural point side: PIP rewrite (no point-side generator, no ownership), oracle-equal") {
    GraftSql.install(spark)
    spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
    spark.conf.set(SpatialJoinRule.GridKey, "32")
    val dir = "/root/testdata/sf0.001"
    val p = graft.api.Derived.customerPoints.load(spark, dir)
    val b = graft.api.Derived.partRects.load(spark, dir)
    // a raw (x, y) point table — the min/max coordinate args are the SAME
    // column, which the rule detects structurally (zero data passes)
    p.toDF().selectExpr("id", "xmin AS x", "ymin AS y").createOrReplaceTempView("sqlp_p")
    b.createOrReplaceTempView("sqlp_b")
    val df = spark.sql(
      """SELECT p.id AS a_id, b.id AS b_id FROM sqlp_p p JOIN sqlp_b b
        | ON st_intersects(p.x, p.x, p.y, p.y,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val opt = df.queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gens == 1, s"point side must not be exploded (got $gens generators)")
    assert(sequences(df) == 0)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.join.SpatialJoins.broadcastNL(p, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty)
    // distinct min/max COLUMNS (equal values) are NOT structurally points —
    // the conservative path keeps the generic replicate+own plan
    p.toDF().createOrReplaceTempView("sqlp_p4")
    val generic = spark.sql(
      """SELECT p.id FROM sqlp_p4 p JOIN sqlp_b b
        | ON st_intersects(p.xmin, p.xmax, p.ymin, p.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    val gGens = generic.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }.size
    assert(gGens == 2, "distinct columns must stay on the generic plan")
    assert(generic.count() == want.size)
  }

  test("a malformed spark.graft.extent or spark.graft.grid.n fails naming the key") {
    GraftSql.install(spark)
    val dir = "/root/testdata/sf0.001"
    graft.api.Derived.partRects.load(spark, dir).createOrReplaceTempView("sqlc_a")
    graft.api.Derived.ordersRects.load(spark, dir).createOrReplaceTempView("sqlc_b")
    def plan(): Unit = spark.sql(
      """SELECT a.id FROM sqlc_a a JOIN sqlc_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
      .queryExecution.optimizedPlan
    try {
      spark.conf.set(SpatialJoinRule.GridKey, "32")
      for (bad <- Seq("0,1000,0", "0,1000,0,1000,5", "0,x,0,1000", "0,NaN,0,1000",
                      "0,Infinity,0,1000", "1000,0,0,1000", "0,1000,5,5")) {
        spark.conf.set(SpatialJoinRule.ExtentKey, bad)
        val e = intercept[IllegalArgumentException](plan())
        assert(e.getMessage.contains(SpatialJoinRule.ExtentKey), s"$bad: ${e.getMessage}")
      }
      spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
      for (bad <- Seq("0", "-4", "abc", "")) {
        spark.conf.set(SpatialJoinRule.GridKey, bad)
        val e = intercept[IllegalArgumentException](plan())
        assert(e.getMessage.contains(SpatialJoinRule.GridKey), s"'$bad': ${e.getMessage}")
      }
      spark.conf.set(SpatialJoinRule.GridKey, "32")
      plan()
    } finally {
      spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
      spark.conf.set(SpatialJoinRule.GridKey, "32")
    }
  }

  test("the rewrite reads the grid of the session being optimized") {
    GraftSql.install(spark)
    spark.conf.set(SpatialJoinRule.ExtentKey, "0,1000,0,1000")
    spark.conf.set(SpatialJoinRule.GridKey, "32")
    val other = GraftSql.install(spark.newSession())
    other.conf.set(SpatialJoinRule.ExtentKey, "0,2000,0,2000")
    other.conf.set(SpatialJoinRule.GridKey, "16")
    val dir = "/root/testdata/sf0.001"
    graft.api.Derived.partRects.load(other, dir).createOrReplaceTempView("sqls_a")
    graft.api.Derived.ordersRects.load(other, dir).createOrReplaceTempView("sqls_b")
    val df = other.sql(
      """SELECT a.id FROM sqls_a a JOIN sqls_b b
        | ON st_intersects(a.xmin, a.xmax, a.ymin, a.ymax,
        |                  b.xmin, b.xmax, b.ymin, b.ymax)""".stripMargin)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("cell_keys(grid 16x16 [0,2000]x[0,2000]"), plan)
  }

  test("st_intersects evaluates standalone (marker expression fallback)") {
    GraftSql.install(spark)
    val r = spark.sql(
      "SELECT st_intersects(0.0, 1.0, 0.0, 1.0, 1.0, 2.0, 1.0, 2.0) AS touch, " +
      "st_intersects(0.0, 1.0, 0.0, 1.0, 1.5, 2.0, 0.0, 1.0) AS gap").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("simhash64 is available in SQL") {
    GraftSql.install(spark)
    val r = spark.sql("SELECT simhash64('hello world') AS h").head().getLong(0)
    import org.apache.spark.unsafe.types.UTF8String
    assert(r == graft.functions.SimHash.hash64(UTF8String.fromString("hello world")))
  }
}
