package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics of one stage, summed over its finished tasks. */
final class StageStats(val stageId: Int, val label: String, val parent: Int) {
  var submittedMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var failedTasks = 0
  val taskMs = mutable.ArrayBuffer[Long]()
}

/** The benchmark's own `SparkListener`. Each stage is filed under the pass
  * label and span that were current when its job was submitted —
  * carried as job-local properties (see [[Tracer.sc]]), so late event
  * delivery cannot misfile it — and becomes a `spark.stage` span when it
  * completes. */
final class StageListener(tracer: Tracer) extends SparkListener {
  private val stages = mutable.LinkedHashMap[Int, StageStats]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val props = e.properties
    val label = Option(props).flatMap(p => Option(p.getProperty(StageListener.LabelKey))).getOrElse("")
    val parent = Option(props).flatMap(p => Option(p.getProperty(StageListener.SpanKey)))
      .map(_.toInt).getOrElse(0)
    val s = stages.getOrElseUpdate(e.stageInfo.stageId,
      new StageStats(e.stageInfo.stageId, label, parent))
    s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      s.taskMs += e.taskInfo.duration
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      tracer.recordEpochMs("spark.stage", s.submittedMs, end, s.parent)
    }
  }

  def forLabel(label: String): Vector[StageStats] = synchronized {
    stages.valuesIterator.filter(_.label == label).toVector
  }
}

object StageListener {
  val LabelKey = "perfbench.label"
  val SpanKey = "perfbench.span"

  /** Runs `body` with the Spark jobs it submits tagged `label`. */
  def labelled[T](sc: SparkContext, label: String)(body: => T): T = {
    sc.setLocalProperty(LabelKey, label)
    try body
    finally sc.setLocalProperty(LabelKey, null)
  }
}
