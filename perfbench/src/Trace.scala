package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One task's counters, copied out of the listener event. */
final case class TaskRec(runMs: Long, peakMem: Long,
                         writeRecords: Long, writeBytes: Long, writeNs: Long,
                         readRecords: Long, fetchWaitMs: Long)

/** One stage: the span it ran under, its wall interval and its tasks. */
final case class StageRec(id: Int, span: String, var start: Long = -1L, var end: Long = -1L,
                          tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer.empty) {
  def readRecords: Long = tasks.iterator.map(_.readRecords).sum
  def writeRecords: Long = tasks.iterator.map(_.writeRecords).sum
  def isReduce: Boolean = readRecords > 0
}

/** A driver-side span around one call into a layer; times are epoch ms. */
final case class Span(name: String, parent: String, start: Long, end: Long)

/** The benchmark's own listener. Every job the driver launches carries the
  * local property [[Tracer.Key]] naming the span it ran under, so each
  * stage and task is attributed to that span. Records stay in memory until
  * the run ends.
  */
final class Tracer extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val jobs = mutable.ArrayBuffer.empty[(Int, String)]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += e.jobId -> spanOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      StageRec(i.stageId, spanOf(e.properties)))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.start = i.submissionTime.getOrElse(-1L)
      s.end = i.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += TaskRec(m.executorRunTime, m.peakExecutionMemory,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime)
    }
  }

  def stagesOf(span: String): Seq[StageRec] = synchronized {
    stages.valuesIterator.filter(_.span == span).toVector
  }

  def jobsOf(span: String): Int = synchronized { jobs.count(_._2 == span) }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
