package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Execution counters attributed to statements by job tag.
  *
  * The harness tags every job a statement starts (`SparkContext.addJobTag`)
  * and this listener folds job, stage and task events into one counter set
  * per tag. `take` drains the listener bus first, so a read after the
  * statement returns sees every event the statement caused. */
final class JobCounters(sc: SparkContext) extends SparkListener {
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakTaskMem = 0L
    var recordsRead = 0L
  }

  private val stageTag = mutable.HashMap.empty[Int, String]
  private val acc = mutable.HashMap.empty[String, Acc]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(JobCounters.Prefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      acc.getOrElseUpdate(t, new Acc).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(t => acc(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val a = acc(t)
      a.tasks += 1
      if (e.taskInfo != null && !e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakTaskMem = math.max(a.peakTaskMem, m.peakExecutionMemory)
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counters of one tag, read after the bus has delivered every event. */
  def take(tag: String): Acc = {
    ListenerDrain(sc)
    synchronized(acc.remove(tag).getOrElse(new Acc))
  }
}

object JobCounters {
  val Prefix = "graftbench-"
}
