package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Spatial-join benchmark main.
  *
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --out <dir> [--smoke] [--corrupt-checksum]`
  *
  * One process on `local[nproc]`. Sets up the workload's inputs three times
  * (the median is `setup_s`), then runs the cold first join, a second
  * physical route once for the reference checksum, the workload's warm-up
  * joins and timed joins for `--seconds` (at least three). Every join's pair count
  * and checksum are checked. With `--trace 1` untraced and traced joins
  * alternate and the per-layer metrics come from the traced ones. The last
  * stdout line is the result object; the full record (samples, sentinels,
  * spans) goes to `--out`.
  */
object Main extends AdaptiveSparkPlanHelper {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, smoke: Boolean, corrupt: Boolean)

  private def parse(av: Array[String]): Args = {
    def opt(k: String): Option[String] = {
      val i = av.indexOf(k)
      if (i >= 0 && i + 1 < av.length) Some(av(i + 1)) else None
    }
    def req(k: String) = opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    // any integer is a seed; one outside the 64-bit range wraps into it
    val seed = BigInt(req("--seed")).longValue
    val trace = req("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(req("--workload"), seed, req("--seconds").toDouble, trace == "1",
      req("--out"), av.contains("--smoke"), av.contains("--corrupt-checksum"))
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def timed[T](f: => T): (Double, T) = {
    val t0 = now(); val r = f; (now() - t0, r)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val k = s.length
    if (k == 0) Double.NaN else if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixed-cost CPU probe: a codegen'd reduction, no IO or shuffle. A value
    * far from its usual level marks neighbour load during the run.
    */
  private def sentinel(spark: SparkSession): Double =
    timed { spark.range(0, 1L << 27, 1, 16).selectExpr("sum(id % 1000003)").head() }._1

  /** Count and order-independent checksum of every pair: one action. */
  private def consume(pairs: DataFrame): DataFrame =
    pairs.agg(count(lit(1)), sum(shiftrightunsigned(xxhash64(col("a_id"), col("b_id")), 24)))

  final case class Outcome(count: Long, checksum: Long)

  /** CPU seconds the hypervisor took from this machine's vCPUs, summed over
    * all of them (the `steal` column of /proc/stat); 0 where there is none.
    */
  private def stolenS(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Per-layer numbers of one traced join. */
  final case class Layers(total: Double, plan: Double, planJobs: Int,
                          optimize: Double, physical: Double, mapWall: Double,
                          reduceWall: Double, execSelf: Double, tasks: Int,
                          replication: Double, mapTask: Double, bytesPerRow: Double,
                          writeS: Double, sort: Double,
                          reduceTask: Double, local: Double, pairsPerReplica: Double,
                          reduceSkew: Double, peakTaskMb: Double, gcS: Double,
                          peakHeapMb: Double)

  def main(av: Array[String]): Unit = {
    val args = parse(av)
    val wl = Case(args.workload, args.seed, args.smoke)
    val cores = Runtime.getRuntime.availableProcessors()
    val outDir = new java.io.File(args.out)
    outDir.mkdirs()
    val t0 = now()
    val spark = session(cores, new java.io.File(outDir, "spark-local").getAbsolutePath)
    val sessionS = now() - t0
    val sc = spark.sparkContext
    // tiny inputs would be broadcast; keep the shuffled plan of the full size
    if (args.smoke) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    wl.install(spark)
    val tracer = new Tracer
    val spans = tracer.spans
    def span[T](name: String, parent: String)(f: => T): T = {
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, name)
      val s = System.currentTimeMillis()
      try f finally {
        spans += Span(name, parent, s, System.currentTimeMillis())
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

    // compiles the probe and warms the engine, so only the first set-up is cold
    sentinel(spark)
    // set-up: generate and cache, several times; the last copy is kept
    val setupReps = if (args.smoke) 1 else 3
    if (args.trace) sc.addSparkListener(tracer)
    var inputs: Inputs = null
    val setupSamples = (1 to setupReps).map { i =>
      if (inputs != null) inputs.unpersist()
      timed {
        span(s"setup#$i", "") {
          inputs = wl.generate(spark).cache()
          inputs.a.count() + inputs.b.count()
        }
      }
    }
    val rows = setupSamples.last._2
    val genTaskS = setupSamples.indices.map { i =>
      tracer.stagesOf(s"setup#${i + 1}").flatMap(_.tasks).map(_.runMs).sum / 1000.0
    }
    if (args.trace) sc.removeSparkListener(tracer)

    // collect(), not head(): head() plans a new Limit query, so the plan
    // whose metrics are read afterwards would never have run
    def outcome(df: DataFrame): Outcome = {
      val r = df.collect().head
      Outcome(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var rep = 0
    /** One join's wall time, result (`None` when it threw), and the CPU
      * seconds the host stole and this process used meanwhile, which show
      * neighbour load.
      */
    final case class Sample(rep: Int, kind: String, seconds: Double, got: Option[Outcome],
                            stolen: Double = Double.NaN, cpu: Double = Double.NaN)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val layers = scala.collection.mutable.ArrayBuffer.empty[Layers]

    /** One join: entry call, plan forcing, then the consuming action. */
    def runJoin(kind: String, traced: Boolean): Unit = {
      rep += 1
      val id = s"join#$rep"
      if (traced) sc.addSparkListener(tracer)
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val stolen0 = stolenS()
      val cpu0 = cpuS()
      try {
        val (total, (plan, opt, phys, res, out)) = timed {
          span(id, "") {
            val in = inputs.fresh(rep)
            val (plan, pairs) = timed { span(s"$id.plan", id)(wl.join(in)) }
            val out = consume(pairs)
            val (opt, _) = timed { span(s"$id.optimize", id)(out.queryExecution.optimizedPlan) }
            val (phys, _) = timed { span(s"$id.physical", id)(out.queryExecution.executedPlan) }
            val res = span(s"$id.exec", id)(outcome(out))
            (plan, opt, phys, res, out)
          }
        }
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(sc)
          layers += measure(tracer, id, total, plan, opt, phys, res, out, rows,
            (gcMs - gc0) / 1000.0,
            heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
        }
        samples += Sample(rep, kind, total, Some(res), stolenS() - stolen0, cpuS() - cpu0)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $id failed: $e")
          samples += Sample(rep, kind, Double.NaN, None)
      } finally if (traced) sc.removeSparkListener(tracer)
    }

    // the reference route runs after the first join, so that join stays cold
    runJoin("first", traced = false)
    val (checkS, reference) = timed { outcome(consume(wl.check(inputs))) }
    val expected =
      if (args.corrupt) reference.copy(checksum = reference.checksum + 1) else reference
    val goldenOk = wl.golden.forall(_ == reference.count)
    (1 to (if (args.smoke) 0 else wl.warmups)).foreach(_ => runJoin("warmup", traced = false))
    val sentinelBefore = sentinel(spark)
    val tStart = now()
    val minReps = if (args.smoke) 1 else 3
    var timedN = 0
    while (timedN < minReps || now() - tStart < args.seconds) {
      runJoin("timed", traced = false)
      if (args.trace) runJoin("traced", traced = true)
      timedN += 1
    }
    val sentinelAfter = sentinel(spark)
    def passed(s: Sample): Boolean = goldenOk && s.got.contains(expected)
    val attempted = samples.size
    val failed = samples.count(!passed(_))
    val firstJoinS = samples.head.seconds

    val untraced = samples.toSeq.filter(_.kind == "timed").map(_.seconds).filterNot(_.isNaN)
    val joinS = median(untraced)
    val pairs = expected.count.toDouble

    // skew planning, called directly on the cached inputs
    val (skewS, splits) =
      if (!args.trace) (Double.NaN, -1)
      else {
        val (s, scheme) = timed {
          graft.skew.AdaptiveCells.plan(inputs.a, inputs.b, wl.grid, budgetPairs = 1L << 22,
            sampleFraction = 0.1)
        }
        (s, scheme.splits.size)
      }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("join_s", joinS, "s"),
        ("input_rows_per_s", rows / joinS, "1/s"),
        ("result_rows_per_s", pairs / joinS, "1/s"),
        ("setup_s", median(setupSamples.map(_._1)), "s"))
      else {
        def m(f: Layers => Double) = median(layers.map(f).toSeq)
        Seq(
          ("join.first_s", firstJoinS, "s"),
          ("join.plan_s", m(_.plan), "s"),
          ("join.plan_jobs", m(_.planJobs.toDouble), "count"),
          ("skew.plan_s", skewS, "s"),
          ("skew.split_cells", splits.toDouble, "count"),
          ("plans.optimize_s", m(_.optimize), "s"),
          ("plans.physical_s", m(_.physical), "s"),
          ("cells.replication", m(_.replication), "ratio"),
          ("cells.map_task_s", m(_.mapTask), "s"),
          ("cells.map_wall_s", m(_.mapWall), "s"),
          ("exchange.bytes_per_input_row", m(_.bytesPerRow), "B"),
          ("exchange.write_s", m(_.writeS), "s"),
          ("join.sort_s", m(_.sort), "s"),
          ("join.reduce_task_s", m(_.reduceTask), "s"),
          ("join.reduce_wall_s", m(_.reduceWall), "s"),
          ("join.local_s", m(_.local), "s"),
          ("join.pairs_per_replica", m(_.pairsPerReplica), "ratio"),
          ("join.reduce_skew", m(_.reduceSkew), "ratio"),
          ("join.peak_task_mem_mb", m(_.peakTaskMb), "MB"),
          ("driver.exec_self_s", m(_.execSelf), "s"),
          ("driver.tasks", m(_.tasks.toDouble), "count"),
          ("ingest.gen_s", median(genTaskS), "s"),
          ("jvm.gc_s", m(_.gcS), "s"),
          ("jvm.peak_heap_mb", layers.map(_.peakHeapMb).max, "MB"),
          ("trace.overhead", m(_.total) / joinS, "ratio"),
          ("trace.parts_frac", m(l => (l.plan + l.optimize + l.physical + l.mapWall +
            l.reduceWall + l.execSelf) / l.total), "ratio"))
      }

    val correct = failed == 0 && goldenOk && metrics.forall(x => !x._2.isNaN && !x._2.isInfinite)
    val result = Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))

    val record = Json.obj(
      "workload" -> Json.str(wl.name),
      "seed" -> args.seed.toString,
      "rows_per_side" -> wl.n.toString,
      "trace" -> args.trace.toString,
      "cpus" -> cores.toString,
      "spark_version" -> Json.str(spark.version),
      "jvm_version" -> Json.str(System.getProperty("java.version")),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "session_conf" -> Json.obj(spark.conf.getAll.toSeq.sorted.map { case (k, v) =>
        k -> Json.str(v) }: _*),
      "session_start_s" -> Json.num(sessionS),
      "sentinel_s" -> Json.obj("before" -> Json.num(sentinelBefore),
        "after" -> Json.num(sentinelAfter)),
      "setup_s" -> Json.arr(setupSamples.map(x => Json.num(x._1))),
      "check_route_s" -> Json.num(checkS),
      "expected" -> Json.obj("count" -> reference.count.toString,
        "checksum" -> reference.checksum.toString,
        "golden" -> wl.golden.fold("null")(_.toString)),
      "joins" -> Json.arr(samples.toSeq.map(s => Json.obj("rep" -> s.rep.toString,
        "kind" -> Json.str(s.kind), "seconds" -> Json.num(s.seconds),
        "stolen_s" -> Json.num(s.stolen), "cpu_s" -> Json.num(s.cpu),
        "ok" -> passed(s).toString))),
      "spans" -> Json.arr(spans.toSeq.map(s => Json.obj("name" -> Json.str(s.name),
        "parent" -> Json.str(s.parent), "start_ms" -> s.start.toString,
        "end_ms" -> s.end.toString))),
      "stages" -> Json.arr(tracer.stages.values.toSeq.map(s => Json.obj(
        "id" -> s.id.toString, "span" -> Json.str(s.span),
        "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
        "tasks" -> s.tasks.size.toString,
        "read_records" -> s.readRecords.toString,
        "write_records" -> s.writeRecords.toString))),
      "result" -> result)
    val file = new java.io.File(outDir,
      s"${wl.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}-${System.currentTimeMillis()}.json")
    java.nio.file.Files.writeString(file.toPath, record)
    System.err.println(s"[perfbench] record written to $file")
    spark.stop()
    println(result)
    System.out.flush()
  }

  /** Folds one traced join's stages, spans and final-plan SQLMetrics into
    * layer numbers. Wall parts use interval coverage: the two inputs' map
    * stages run concurrently, so their union, not their sum, is map time.
    */
  private def measure(t: Tracer, id: String, total: Double, plan: Double, opt: Double,
                      phys: Double, res: Outcome, out: DataFrame, rows: Long,
                      gcS: Double, peakHeapMb: Double): Layers = {
    val exec = t.spans.find(_.name == s"$id.exec").get
    val planStages = t.stagesOf(s"$id.plan")
    val execStages = t.stagesOf(s"$id.exec")
    val (reduce, map) = execStages.partition(_.isReduce)
    def iv(ss: Seq[StageRec]) = ss.filter(_.end >= 0).map(s => (s.start, s.end))
    val mapWall = Tracer.covered(iv(map), exec.start, exec.end) / 1000.0
    val allWall = Tracer.covered(iv(execStages), exec.start, exec.end) / 1000.0
    val mapTasks = map.flatMap(_.tasks)
    val redTasks = reduce.flatMap(_.tasks)
    val written = mapTasks.map(_.writeRecords).sum.toDouble
    val readRecs = redTasks.map(_.readRecords).sum.toDouble
    val sortS = collect(out.queryExecution.executedPlan) {
      case s: SortExec => s.metrics("sortTime").value / 1000.0
    }.sum
    val reduceTask = redTasks.map(_.runMs).sum / 1000.0
    // always 0 on local[n] (no remote blocks), kept so local_s stays exact elsewhere
    val fetchWait = redTasks.map(_.fetchWaitMs).sum / 1000.0
    // the join stage is the reduce stage that read the most shuffle records;
    // later single-task stages only merge partial aggregates
    val joinStage = reduce.sortBy(-_.readRecords).headOption
    val runs = joinStage.toSeq.flatMap(_.tasks.map(_.runMs.toDouble)).sorted
    Layers(
      total = total, plan = plan, planJobs = t.jobsOf(s"$id.plan"),
      optimize = opt, physical = phys, mapWall = mapWall,
      reduceWall = allWall - mapWall,
      execSelf = (exec.end - exec.start) / 1000.0 - allWall,
      tasks = (planStages ++ execStages).map(_.tasks.size).sum,
      replication = written / rows,
      mapTask = mapTasks.map(_.runMs).sum / 1000.0,
      bytesPerRow = mapTasks.map(_.writeBytes).sum.toDouble / rows,
      writeS = mapTasks.map(_.writeNs).sum / 1e9,
      sort = sortS, reduceTask = reduceTask,
      local = reduceTask - sortS - fetchWait,
      pairsPerReplica = if (readRecs > 0) res.count / readRecs else Double.NaN,
      reduceSkew = if (runs.isEmpty) Double.NaN else runs.last / math.max(1.0, median(runs)),
      peakTaskMb = redTasks.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0,
      gcS = gcS, peakHeapMb = peakHeapMb)
  }
}

/** Minimal JSON text builder for the result line and the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }
    .mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
