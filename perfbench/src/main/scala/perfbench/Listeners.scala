package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Task counters summed over the tasks of one job group. */
final class TaskAgg {
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var schedWaitMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputRows = 0L
  var spillBytes = 0L
  var gcMs = 0L
  /** (launch, finish) epoch ms of every task, for the driver-gap sum. */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long,
    lineage: Boolean)
final case class StageRec(id: Int, attempt: Int, job: Int, group: String,
    start: Long, end: Long)

/** Spark's own event stream, grouped by the job group the harness sets
  * around each query call (`<query>#<pass>`). Jobs whose stages were
  * created from `graft.Lineage.cut` count as lineage cuts, and block
  * updates of the RDDs those jobs materialize count as lineage blocks.
  */
final class LayerListener extends SparkListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val tasks = mutable.Map[String, TaskAgg]()
  val lineageBlockBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val lineageRdds = mutable.Map[Int, String]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    val lineage = e.stageInfos.exists(_.details.contains("graft.Lineage"))
    val j = JobRec(e.jobId, g, e.time, e.time, lineage)
    jobs += j
    jobById(e.jobId) = j
    e.stageInfos.foreach { s =>
      stageJob(s.stageId) = j
      if (lineage) s.rddInfos.filter(_.storageLevel.isValid)
        .foreach(r => lineageRdds(r.id) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageJob.get(s.stageId).foreach { j =>
      val start = s.submissionTime.getOrElse(stageSubmit.getOrElse(s.stageId, j.start))
      stages += StageRec(s.stageId, s.attemptNumber(), j.id, j.group, start,
        s.completionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageJob.get(e.stageId).map(_.group).getOrElse("")
    val a = tasks.getOrElseUpdate(g, new TaskAgg)
    val info = e.taskInfo
    a.tasks += 1
    a.intervals += ((info.launchTime, info.finishTime))
    a.schedWaitMs += math.max(0L,
      info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime))
    val m = e.taskMetrics
    if (m != null) {
      a.busyMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.inputRows += m.inputMetrics.recordsRead
      a.spillBytes += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        lineageRdds.get(rdd).foreach { g =>
          lineageBlockBytes(g) += b.memSize + b.diskSize
        }
      case _ => ()
    }
  }
}

final case class Batch(group: String, triggerMs: Long, addBatchMs: Long,
    commitMs: Long, stateRows: Long, stateBytes: Long)

/** Micro-batch progress of every streaming query, attributed to the
  * workload query that was running when it arrived.
  */
final class StreamListener extends StreamingQueryListener {
  @volatile var current = ""
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    batches.add(Batch(current, dur("triggerExecution"), dur("addBatch"),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }
}

/** `observe()` metrics the program publishes on each executed plan. */
final class ObservedListener extends QueryExecutionListener {
  val values = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double)]()
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    qe.observedMetrics.foreach { case (obs, row) =>
      row.schema.fieldNames.zip(row.toSeq).foreach {
        case (k, v: Number) => values.add((obs, k, v.doubleValue))
        case _ => ()
      }
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def sum(obs: String, key: String): Double = {
    var s = 0.0
    values.forEach { case (o, k, v) => if (o == obs && k == key) s += v }
    s
  }
}
