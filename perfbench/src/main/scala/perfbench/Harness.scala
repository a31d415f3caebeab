package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** In-memory spans: id, parent id, layer, name, start and end in epoch
  * milliseconds. Written out once, when the run ends.
  */
final class Spans {
  val rows = mutable.ArrayBuffer[Map[String, Any]]()
  def add(id: String, parent: String, layer: String, name: String,
      start: Long, end: Long): Unit = synchronized {
    rows += Map("id" -> id, "parent" -> parent, "layer" -> layer,
      "name" -> name, "start" -> start, "end" -> end)
  }
}

/** One closed-loop client: issues the workload's queries one at a time
  * through `SparkEntry.queries` into the `noop` sink, for a fixed
  * number of passes.
  *
  * Before the window, an untimed pass writes every result to parquet
  * for the output check and warms the JVM. After the window, queries
  * without an oracle run once more for the determinism check. With
  * `--trace 1` every odd pass runs with the listeners attached, and
  * the direct-call probes run at the end.
  *
  * Arguments: --queries a,b,c --inputs DIR --out DIR --passes N
  * --trace 0|1 --cpus N. Results go to DIR/harness.json.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = args("queries").split(",").toSeq
    val inputs = args("inputs")
    val out = args("out")
    val passCount = args("passes").toInt
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val tmp = System.getProperty("java.io.tmpdir")

    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))

    val oracles = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$out/oracle.json"), Json(oracles))

    val errors = mutable.LinkedHashMap[String, String]()
    def write(n: String, f: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        sub: String): Unit =
      try f(spark, inputs).write.mode("overwrite").parquet(s"$out/$sub/$n")
      catch { case e: Throwable => errors(s"$sub/$n") = String.valueOf(e.getMessage) }

    val jit = ManagementFactory.getCompilationMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
    // CPU of every thread of the process, in ns, by thread id, and
    // whether the thread is a JIT compiler thread. The compiler threads
    // are left out of a call's CPU: they compile whatever the JVM has
    // found hot, in the background, and come and go with their queue.
    def threadCpuNs(): Map[String, (Boolean, Long)] =
      Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten.flatMap { t =>
        try {
          val name = Files.readString(t.toPath.resolve("comm")).trim
          val ns = Files.readString(t.toPath.resolve("schedstat")).split(" ")(0).toLong
          Some(t.getName -> (name.matches("C[12] CompilerThre.*"), ns))
        } catch { case _: java.io.IOException => None }
      }.toMap

    // untimed warmup: the output pass
    fns.foreach { case (n, f) =>
      val t0 = System.nanoTime()
      write(n, f, "results")
      System.err.println(f"[perfbench] output $n ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.catalog.clearCache()
    System.gc()
    val setupJitMs = jit.getTotalCompilationTime

    // old-generation use after each collection, from GC notifications
    @volatile var oldPeak = 0L
    val gcListener = new javax.management.NotificationListener {
      override def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (pool.contains("Old Gen") || pool.contains("Tenured"))
              oldPeak = math.max(oldPeak, u.getUsed)
          }
        }
    }
    val emitters = gcBeans.collect { case e: javax.management.NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(gcListener, null, null))

    val spans = new Spans
    val layer = new LayerListener
    val stream = new StreamListener
    val observed = new ObservedListener
    def attach(): Unit = {
      sc.addSparkListener(layer)
      spark.streams.addListener(stream)
      spark.listenerManager.register(observed)
    }
    def detach(): Unit = {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(layer)
      spark.streams.removeListener(stream)
      spark.listenerManager.unregister(observed)
    }

    val calls = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val firstQueryMs = System.currentTimeMillis()
    for (pass <- 0 until passCount) {
      val traced = trace && pass % 2 == 1
      if (traced) attach()
      val gc0 = gcMs(); val jit0 = jit.getTotalCompilationTime
      val p0 = System.currentTimeMillis()
      fns.foreach { case (n, f) =>
        val g = s"$n#$pass"
        sc.setJobGroup(g, n, interruptOnCancel = false)
        stream.current = g
        val c0 = threadCpuNs()
        val e0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val ok =
          try { f(spark, inputs).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            errors(s"timed/$n") = String.valueOf(e.getMessage); false }
        val wall = (System.nanoTime() - t0) / 1e9
        val c1 = threadCpuNs()
        def cpuOf(compiler: Boolean): Double = c1.collect {
          case (t, (c, ns)) if c == compiler => ns - c0.get(t).fold(0L)(_._2) }.sum / 1e9
        val (cpu, jitCpu) = (cpuOf(false), cpuOf(true))
        val e1 = System.currentTimeMillis()
        sc.clearJobGroup()
        spans.add(s"q:$g", s"pass#$pass", "queries", n, e0, e1)
        System.err.println(f"[perfbench] pass $pass $n ${wall}%.3f s")
        calls += Map("pass" -> pass, "query" -> n, "group" -> g, "traced" -> traced,
          "wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jitCpu, "ok" -> ok,
          "start" -> e0, "end" -> e1)
      }
      val p1 = System.currentTimeMillis()
      val passGc = gcMs() - gc0
      val passJit = jit.getTotalCompilationTime - jit0
      if (traced) detach()
      spans.add(s"pass#$pass", "workload", "pass", s"pass $pass", p0, p1)
      passes += Map("pass" -> pass, "traced" -> traced, "gc_s" -> passGc / 1e3,
        "jit_s" -> passJit / 1e3)
      // settle between passes: drop caches, collect garbage, untimed
      spark.catalog.clearCache()
      System.gc()
    }
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(gcListener)))

    // determinism check input: a second result of each unoracled query
    fns.filterNot { case (n, _) => oracles.contains(n) }
      .foreach { case (n, f) => write(n, f, "results2") }

    val probes = new Probes(spark, inputs, tmp, spans)
    if (trace) {
      attach()
      val s0 = System.currentTimeMillis()
      probes.runOps()
      probes.runFunctions()
      probes.runSources()
      stream.current = "probes"
      probes.runStreaming()
      spans.add("probes", "workload", "probes", "probes", s0, System.currentTimeMillis())
      detach()
    }
    val endMs = System.currentTimeMillis()
    spans.add("workload", "", "workload", "workload", firstQueryMs, endMs)

    // per traced call: time to first job, and time with no task running
    val perCall = calls.filter(_("traced") == true).map { c =>
      val g = c("group").toString
      val (e0, e1) = (c("start").asInstanceOf[Long], c("end").asInstanceOf[Long])
      val firstJob = layer.jobs.filter(_.group == g).map(_.start).minOption.getOrElse(e1)
      val iv = layer.tasks.get(g).map(_.intervals.toSeq).getOrElse(Nil)
        .map { case (a, b) => (math.max(a, e0), math.min(b, e1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = e0
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      g -> Map("plan_s" -> math.max(0L, firstJob - e0) / 1e3,
        "driver_gap_s" -> (e1 - e0 - covered) / 1e3)
    }.toMap
    layer.jobs.foreach { j =>
      val parent = if (j.group.startsWith("probe:")) j.group else s"q:${j.group}"
      spans.add(s"job:${j.id}", parent, "jobs", s"job ${j.id}", j.start, j.end)
    }
    layer.stages.foreach { s =>
      spans.add(s"stage:${s.id}.${s.attempt}", s"job:${s.job}", "stages",
        s"stage ${s.id}", s.start, s.end)
    }
    def aggMap(a: TaskAgg): Map[String, Any] = Map("tasks" -> a.tasks,
      "busy_s" -> a.busyMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
      "sched_wait_s" -> a.schedWaitMs / 1e3, "fetch_wait_s" -> a.fetchWaitMs / 1e3,
      "shuffle_write_mb" -> a.shuffleWriteBytes / 1e6,
      "shuffle_read_mb" -> a.shuffleReadBytes / 1e6, "input_rows" -> a.inputRows,
      "spill_mb" -> a.spillBytes / 1e6, "gc_s" -> a.gcMs / 1e3)
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum

    val result = Map(
      "first_query_ms" -> firstQueryMs,
      "setup_jit_s" -> setupJitMs / 1e3,
      "heap_old_peak_mb" -> oldPeak / 1e6,
      "code_cache_mb" -> codeCache / 1e6,
      "errors" -> errors,
      "calls" -> calls,
      "passes" -> passes,
      "traced_calls" -> perCall,
      "jobs" -> layer.jobs.map(j => Map("id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> j.end, "lineage" -> j.lineage)),
      "stages" -> layer.stages.map(s => Map("id" -> s.id, "group" -> s.group)),
      "tasks" -> layer.tasks.map { case (g, a) => g -> aggMap(a) },
      "lineage_block_mb" -> layer.lineageBlockBytes.map { case (g, b) => g -> b / 1e6 },
      "stream_batches" -> stream.batches.asScala.map(b => Map("group" -> b.group,
        "trigger_s" -> b.triggerMs / 1e3, "add_batch_s" -> b.addBatchMs / 1e3,
        "state_commit_s" -> b.commitMs / 1e3, "state_rows" -> b.stateRows,
        "state_mb" -> b.stateBytes / 1e6)),
      "observed" -> Map(
        "candidate_pairs" -> observed.sum("graft.simhash_lsh", "candidate_pairs"),
        "verify_pairs" -> observed.sum("graft.simhash_verify", "verify_pairs")),
      "probes" -> probes.metrics,
      "spans" -> spans.rows)
    spark.stop()
    Files.write(Paths.get(s"$out/harness.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
  }
}
