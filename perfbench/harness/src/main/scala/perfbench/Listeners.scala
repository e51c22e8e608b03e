package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Peak bytes held by RDD blocks (cached relations and checkpoint
  * blocks) in the block manager. Unpersisting an RDD removes its blocks
  * without a per-block update, so `onUnpersistRDD` drops them here; a
  * block update that reaches the bus after its RDD's unpersist event is
  * ignored (RDD ids are never reused). */
final class StorageMeter extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private val unpersisted = mutable.HashSet.empty[Int]
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.asRDDId.exists(id => !unpersisted(id.rddId))) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += size - blocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) blocks.remove(info.blockId.name)
      else blocks(info.blockId.name) = size
      peak = math.max(peak, current)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    unpersisted += e.rddId
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
      current -= blocks(k); blocks.remove(k)
    }
  }

  /** Starts a new measurement window at the current level. */
  def reset(): Unit = synchronized { peak = current }

  def peakBytes: Long = synchronized(peak)
}

/** Records jobs, SQL executions and tasks as raw spans. Attribution to
  * repository modules happens when the spans are read (see the README:
  * job -> SQL execution id -> the execution's call site). */
final class SpanRecorder extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val execs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Seq[Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val finalStage = e.stageInfos.maxByOption(_.stageId)
    jobs(e.jobId) = mutable.LinkedHashMap[String, Any](
      "id" -> e.jobId,
      "start_ms" -> e.time,
      "group" -> prop("spark.jobGroup.id"),
      "execution" -> prop("spark.sql.execution.id").map(_.toLong),
      "callsite" -> finalStage.map(_.details),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    val i = e.taskInfo
    tasks += Seq(
      stageJob.getOrElse(e.stageId, -1), e.stageId, i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.diskBytesSpilled).getOrElse(0L))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = mutable.LinkedHashMap[String, Any](
        "id" -> s.executionId,
        "root" -> s.rootExecutionId,
        "start_ms" -> s.time,
        "group" -> s.jobGroupId,
        "callsite" -> s.details)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_("end_ms") = s.time)
    }
    case _ =>
  }

  def toJson(ops: Seq[Map[String, Any]]): String = synchronized {
    Json(Map(
      "task_fields" -> Seq("job", "stage", "launch_ms", "finish_ms", "run_ms",
        "gc_ms", "cpu_ns", "shuffle_write_bytes", "disk_spill_bytes"),
      "ops" -> ops,
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "executions" -> execs.values.map(_.toMap).toSeq,
      "tasks" -> tasks.toSeq))
  }
}
