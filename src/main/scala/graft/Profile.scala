package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.storage.RDDBlockId

/** Per-query profile read from Spark's own event stream — the one
  * observation mechanism behind the bench record. Three parts:
  *
  *  - [[stage]] tags the Spark jobs a pipeline step launches through
  *    the local property `graft.stage`. Spark copies local properties
  *    into the broadcast-exchange and subquery threads, so a step's
  *    broadcast builds bill to the step. Library code only names its
  *    steps; it never times or counts anything itself.
  *  - [[Listener]] groups the bus's job, stage, task, storage,
  *    SQL-execution and streaming-progress events into one record
  *    per window (one bench query).
  *  - [[drain]] waits for the bus to deliver everything the returned
  *    actions posted, so a snapshot taken after it is complete. No
  *    sleeps, no polling.
  */
object Profile {

  /** Local property that names the pipeline step of a job. */
  val StageKey = "graft.stage"

  /** Run `body` with the Spark jobs it launches tagged `name`. Nested
    * steps restore the outer tag on exit; the innermost tag wins.
    */
  def stage[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val outer = sc.getLocalProperty(StageKey)
    sc.setLocalProperty(StageKey, name)
    try body finally sc.setLocalProperty(StageKey, outer)
  }

  /** Block until every listener has seen every event of the actions
    * that have already returned.
    */
  def drain(spark: SparkSession): Unit =
    Bridge.waitForListeners(spark.sparkContext)

  private final class Tag {
    var firstSubmit = Long.MaxValue
    var lastEnd = Long.MinValue
    var jobs = 0
    var cpuNs = 0L
  }

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def mb(b: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, b / 1048576.0)

  /** Profile of one window, from [[reset]] to [[snapshot]]. Register it
    * with `sparkContext.addSparkListener`; call [[drain]] before
    * [[snapshot]]. Rows, in order:
    *
    *  - `jobs`, `stages`: jobs started and stages submitted.
    *  - one `<tag>: [wall_s, task_cpu_s, jobs]` row per [[stage]] tag,
    *    in first-seen order. Wall runs from the tag's first job
    *    submit to its last job end; task CPU sums `executorCpuTime`
    *    of its stages' tasks, so JIT and GC threads are not billed.
    *  - `tk_tasks`, `tk_cpu`, `tk_in_mb`, `tk_sh_mb`, `tk_spill_mb`:
    *    task counts, CPU and bytes. Same tasks and bytes as a clean
    *    run rule out recomputation; more CPU at equal tasks is
    *    per-task slowdown, not extra work.
    *  - `tk_disk`: RDD block updates landing on disk (storage-pressure
    *    demotions).
    *  - `tk_drop`, `tk_evict`: RDD blocks dropped from storage, and
    *    those of them whose RDD was never explicitly unpersisted —
    *    a nonzero `tk_evict` is a real eviction. An unpersist may post
    *    its block drops before its `UnpersistRDD` event, so drops are
    *    classified at snapshot time, and unpersisted ids are kept
    *    across windows.
    *  - `sq_*`, when the window ran streaming micro-batches: batch
    *    count and summed progress durations (s).
    *  - every numeric `observe()` metric of the window's SQL
    *    executions, by field name.
    */
  final class Listener extends SparkListener {
    private var jobs = 0
    private var stages = 0
    private var tasks = 0L
    private var cpuNs = 0L
    private var inBytes = 0L
    private var shuffleBytes = 0L
    private var spillBytes = 0L
    private var diskWrites = 0L
    private val dropped = mutable.ArrayBuffer[Int]()
    private val unpersisted = mutable.Set[Int]()
    private val jobTag = mutable.Map[Int, String]()
    private val stageTag = mutable.Map[Int, String]()
    private val tags = mutable.LinkedHashMap[String, Tag]()
    private val streaming = mutable.LinkedHashMap[String, Double]()
    private val observed = mutable.LinkedHashMap[String, String]()

    private def tagOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(StageKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      tagOf(e.properties).foreach { t =>
        jobTag(e.jobId) = t
        val g = tags.getOrElseUpdate(t, new Tag)
        g.jobs += 1
        g.firstSubmit = math.min(g.firstSubmit, e.time)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobTag.remove(e.jobId).flatMap(tags.get).foreach { g =>
        g.lastEnd = math.max(g.lastEnd, e.time)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stages += 1
      tagOf(e.properties).foreach(stageTag(e.stageInfo.stageId) = _)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        inBytes += m.inputMetrics.bytesRead
        shuffleBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead + m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTag.get(e.stageId).flatMap(tags.get).foreach(_.cpuNs += m.executorCpuTime)
      }
    }

    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
      unpersisted += e.rddId
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rddId, _) =>
          if (!info.storageLevel.isValid) dropped += rddId
          else if (info.storageLevel.useDisk && info.diskSize > 0) diskWrites += 1
        case _ => ()
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        // read outside the lock: observedMetrics walks the executed plan
        val rows = Bridge.observedMetrics(end).values
        synchronized {
          rows.foreach { row =>
            row.schema.fieldNames.zip(row.toSeq).foreach {
              case (k, v: Number) => observed(k) = v.toString
              case _ => () // an aggregate over zero rows is null
            }
          }
        }
      case p: QueryProgressEvent => synchronized {
        def add(k: String, v: Double): Unit =
          streaming(k) = streaming.getOrElse(k, 0.0) + v
        def secs(k: String): Double =
          Option(p.progress.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        val st = p.progress.stateOperators
        add("sq_batches", 1)
        add("sq_trigger", secs("triggerExecution"))
        add("sq_addbatch", secs("addBatch"))
        add("sq_planning", secs("queryPlanning"))
        add("sq_offsets", secs("walCommit") + secs("commitOffsets") +
          secs("latestOffset") + secs("getBatch"))
        add("sq_state_commit", st.map(_.commitTimeMs).sum / 1e3)
        add("sq_state_update", st.map(_.allUpdatesTimeMs).sum / 1e3)
        add("sq_state_evict", st.map(_.allRemovalsTimeMs).sum / 1e3)
      }
      case _ => ()
    }

    /** Start a new window. Call after [[drain]] so no event of the
      * previous window lands in this one.
      */
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0; inBytes = 0
      shuffleBytes = 0; spillBytes = 0; diskWrites = 0
      dropped.clear(); jobTag.clear(); stageTag.clear(); tags.clear()
      streaming.clear(); observed.clear()
    }

    /** The window's rows as (key, JSON value) pairs. */
    def snapshot(): Seq[(String, String)] = synchronized {
      val tagRows = tags.toSeq.map { case (t, g) =>
        val wall = if (g.lastEnd >= g.firstSubmit) (g.lastEnd - g.firstSubmit) / 1e3 else 0.0
        t -> s"[${f3(wall)},${f3(g.cpuNs / 1e9)},${g.jobs}]"
      }
      Seq("jobs" -> jobs.toString, "stages" -> stages.toString) ++ tagRows ++ Seq(
        "tk_tasks" -> tasks.toString,
        "tk_cpu" -> f3(cpuNs / 1e9),
        "tk_in_mb" -> mb(inBytes),
        "tk_sh_mb" -> mb(shuffleBytes),
        "tk_spill_mb" -> mb(spillBytes),
        "tk_disk" -> diskWrites.toString,
        "tk_drop" -> dropped.size.toString,
        "tk_evict" -> dropped.count(id => !unpersisted.contains(id)).toString) ++
        streaming.toSeq.map { case (k, v) =>
          k -> (if (k == "sq_batches") v.toLong.toString else f3(v))
        } ++ observed.toSeq
    }
  }
}
