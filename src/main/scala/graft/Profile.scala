package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev profiler over the driver queries (not part of the driver contract).
  * For each named [[SparkEntry.queries]] entry it writes the query's
  * `explain("formatted")` to `<planDir>/<query>.txt`, then times `<runs>`
  * `count()`s and prints the min, every sample and the shuffle bytes each
  * sample wrote. It runs under [[Bench]]'s query-phase session (AQE
  * coalescing on) with Bench's cores, and CPU sentinels bracket the whole
  * run so a neighbour-load window shows in the output.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<tables> runMain graft.Profile <runs> <planDir> <query> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(0).toInt >= 1,
      "usage: graft.Profile <runs >= 1> <planDir> <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to the directory of the tables"))
    val runs = args(0).toInt
    val planDir = Paths.get(args(1))
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Bench.session(Bench.cpus)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    Files.createDirectories(planDir)
    Bench.sentinelSec(spark) // cold: JIT-compiles the sentinel, so only warm runs compare
    println(f"sentinel_pre=${Bench.sentinelSec(spark)}%.2f")
    names.foreach { n =>
      val query = SparkEntry.queries(n)
      val planFile = planDir.resolve(s"$n.txt")
      Files.writeString(planFile,
        query(spark, sfDir).queryExecution.explainString(FormattedMode))
      val samples = (1 to runs).map(_ => Bench.timedWithShuffle(spark)(query(spark, sfDir).count()))
      println(f"$n%-28s min=${samples.map(_._1).min}%.2f samples=" +
        samples.map(s => f"${s._1}%.2f").mkString(",") +
        s" shuffle_bytes=${samples.map(_._2).mkString(",")} plan=$planFile")
    }
    println(f"sentinel_post=${Bench.sentinelSec(spark)}%.2f")
    spark.stop()
  }
}
