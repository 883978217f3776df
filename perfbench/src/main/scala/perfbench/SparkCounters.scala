package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side [[SparkListener]]: job, stage and task counters of
  * everything the engine runs, read as deltas around each measured call. */
final class SparkCounters extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var taskRunMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var gcMs = 0L
  /** stage id → task run times, for the skew of the widest stage. */
  private val stageTaskMs = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
      stageTaskMs.getOrElseUpdate(e.stageId, scala.collection.mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def snapshot(): Map[String, Long] = synchronized {
    Map("spark.jobs" -> jobs, "spark.stages" -> stages, "spark.tasks" -> tasks,
      "spark.task_run_ms" -> taskRunMs, "spark.shuffle_write_bytes" -> shuffleWrite,
      "spark.shuffle_read_bytes" -> shuffleRead, "spark.spill_bytes" -> spill,
      "spark.gc_ms" -> gcMs)
  }

  def stageIds: Set[Int] = synchronized { stageTaskMs.keySet.toSet }

  /** Max ÷ median task run time of the stage with the most tasks among the
    * stages not in `before`; 1.0 when no stage ran. */
  def widestStageSkew(before: Set[Int]): Double = synchronized {
    val fresh = stageTaskMs.filter { case (id, _) => !before.contains(id) }
    if (fresh.isEmpty) 1.0
    else {
      val ts = fresh.values.maxBy(_.length).map(_.toDouble)
      val med = Stats.median(ts)
      if (med <= 0) 1.0 else ts.max / med
    }
  }
}

object SparkCounters {
  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
