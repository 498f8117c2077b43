package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark-level counters and job/stage spans, gathered by a listener the
  * benchmark registers for its traced passes only. Jobs are linked to the
  * op that submitted them through the [[Recorder.OpProperty]] local
  * property; all state is kept in memory and read after the bus drained. */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val taskSums = mutable.HashMap.empty[Int, TaskSums]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private val blockMem = mutable.HashMap.empty[String, Boolean]
  private var storageBytes = 0L
  var peakStorageBytes = 0L
  var blocksDropped = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
    jobs(e.jobId) = JobSpan(e.jobId, op, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = taskSums.getOrElseUpdate(e.stageId, new TaskSums)
    val i = e.taskInfo
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillDisk += m.diskBytesSpilled
      s.spillMem += m.memoryBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRows += m.inputMetrics.recordsRead
      // the Spark UI's scheduler-delay formula
      s.delayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageSpan(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case rdd: RDDBlockId =>
        val key = rdd.name
        val before = blockBytes.getOrElse(key, 0L)
        val now = info.memSize + info.diskSize
        val inMemoryBefore = blockMem.getOrElse(key, false)
        if (inMemoryBefore && !info.storageLevel.useMemory &&
            sc.getPersistentRDDs.contains(rdd.rddId)) blocksDropped += 1
        blockMem(key) = info.storageLevel.useMemory && info.memSize > 0
        if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
        storageBytes += now - before
        peakStorageBytes = math.max(peakStorageBytes, storageBytes)
      case _ =>
    }
  }

  def snapshot(): Snapshot = synchronized {
    val sums = new TaskSums
    taskSums.values.foreach(sums.add)
    Snapshot(jobs.values.toVector, stages.toVector, taskSums.toMap, sums,
      peakStorageBytes, blocksDropped)
  }
}

object Recorder {
  /** Local property carrying the id of the op span a job belongs to. */
  val OpProperty = "perfbench.op"

  final case class JobSpan(jobId: Int, op: Option[String], startMs: Long, endMs: Long)
  final case class StageSpan(stageId: Int, jobId: Int, startMs: Long, endMs: Long)
  final case class Snapshot(jobs: Vector[JobSpan], stages: Vector[StageSpan],
                            perStage: Map[Int, TaskSums], tasks: TaskSums,
                            peakStorageBytes: Long, blocksDropped: Long)

  final class TaskSums {
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs,
      spillDisk, spillMem, inputBytes, inputRows, delayMs = 0L
    def add(o: TaskSums): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      fetchWaitMs += o.fetchWaitMs; spillDisk += o.spillDisk; spillMem += o.spillMem
      inputBytes += o.inputBytes; inputRows += o.inputRows; delayMs += o.delayMs
    }
    def toMap: Map[String, Any] = Map(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "fetch_wait_ms" -> fetchWaitMs, "spill_disk_bytes" -> spillDisk,
      "spill_mem_bytes" -> spillMem, "input_bytes" -> inputBytes,
      "input_rows" -> inputRows, "scheduler_delay_ms" -> delayMs)
  }
}
