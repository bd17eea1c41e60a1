package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Attributes Spark task metrics to named spans. A span runs its body
  * under a job group named after it; every stage of a job started in that
  * group counts toward the span. Spans live in memory and are read out
  * once, after the traced job.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val stageSpan = mutable.Map[Int, String]()
  private val counters = mutable.LinkedHashMap[String, Counters]()
  private val wall = mutable.LinkedHashMap[String, Double]()
  private val rows = mutable.Map[String, Long]()
  private val blocks = mutable.Map[String, Long]()
  private var stored = 0L
  private var storedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    e.stageIds.foreach(stageSpan(_) = group.getOrElse(Unattributed))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters.getOrElseUpdate(stageSpan.getOrElse(e.stageId, Unattributed), new Counters)
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val info = e.taskInfo
      val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      c.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.diskBytesSpilled
      c.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    stored += size - blocks.getOrElse(b.blockId.name, 0L)
    if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
    storedPeak = math.max(storedPeak, stored)
  }

  /** Run `body` as span `name`; `rowsOut` gives the span's output rows
    * from its result, or None to take the rows its tasks wrote.
    */
  def span[T](name: String)(body: => T)(rowsOut: T => Option[Long]): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = body
      synchronized { wall(name) = wall.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9 }
      rowsOut(r).foreach(n => synchronized { rows(name) = n })
      r
    } finally sc.clearJobGroup()
  }

  /** Resets the storage peak to what is stored now. */
  def resetStoragePeak(): Unit = { flush(); synchronized { storedPeak = stored } }

  def flush(): Unit = org.apache.spark.PerfbenchBus.flush(sc)

  def spanWall(name: String): Double = synchronized { wall.getOrElse(name, 0.0) }

  def storagePeakMb: Double = { flush(); synchronized { storedPeak / 1048576.0 } }

  /** `<span>.<counter>` for each named span; a span that did not run
    * reports zeros.
    */
  def metrics(spans: Seq[String]): Seq[(String, Double)] = {
    flush()
    synchronized {
      spans.flatMap { s =>
        val c = counters.getOrElse(s, new Counters)
        Seq(
          "self_s" -> wall.getOrElse(s, 0.0),
          "cpu_s" -> c.cpuNs / 1e9,
          "gc_s" -> c.gcMs / 1e3,
          "sched_delay_s" -> c.schedMs / 1e3,
          "tasks" -> c.tasks.toDouble,
          "failed_tasks" -> c.failedTasks.toDouble,
          "shuffle_write_bytes" -> c.shuffleWrite.toDouble,
          "fetch_wait_s" -> c.fetchWaitMs / 1e3,
          "spill_bytes" -> c.spill.toDouble,
          "rows_out" -> rows.getOrElse(s, c.recordsWritten).toDouble
        ).map { case (k, v) => s"$s.$k" -> v }
      }
    }
  }
}

object Tracer {
  val Unattributed = "unattributed"

  final class Counters {
    var tasks, failedTasks, cpuNs, gcMs, schedMs, shuffleWrite, fetchWaitMs, spill,
      recordsWritten = 0L
  }
}
