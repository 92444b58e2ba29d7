package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-runtime counters per op. The benchmark tags every op's jobs with
  * the local property [[SparkCounters.Tag]]; this listener attributes each
  * job, the stages it submits and their tasks to that tag. Read only after
  * [[drain]]: listener events arrive asynchronously. It also times every
  * SQL execution that writes files, by its output path. */
final class SparkCounters extends SparkListener {

  final class Counts {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }

  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]

  private val writeStart = mutable.HashMap.empty[Long, (String, Long)]
  private val writeMs = mutable.ArrayBuffer.empty[(String, Long)]

  private def counts(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.Tag)))
      .getOrElse("untagged")
    counts(tag).jobs += 1
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, start) =>
      counts(tag).jobSpans += ((start, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    counts(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        SparkCounters.WritePath.findFirstMatchIn(s.physicalPlanDescription)
          .foreach(m => writeStart(s.executionId) = (m.group(1), s.time))
      case x: SparkListenerSQLExecutionEnd =>
        writeStart.remove(x.executionId).foreach { case (path, start) =>
          writeMs += ((path, x.time - start))
        }
      case _ =>
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def get(tag: String): Option[Counts] = synchronized(byTag.get(tag))

  /** (output path, wall ms) of each file-writing SQL execution, in order. */
  def writes: Seq[(String, Long)] = synchronized(writeMs.toSeq)
}

object SparkCounters {
  val Tag = "perfbench.op"
  // the output path follows the command's name in the simple explain mode
  // and its "Arguments:" line in the formatted one
  private val WritePath = """(?s)InsertIntoHadoopFsRelationCommand.*?(file:\S+?),""".r

  /** Runs `body` with its Spark jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    sc.setLocalProperty(Tag, tag)
    try body finally sc.setLocalProperty(Tag, null)
  }
}
