package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's hardened local-session configuration
  * lives. Every JVM entry point builds through here — the three mains
  * (`graft.Bench`, the timing record; `graft.Verify`, the correctness
  * dump; `graft.PlanDump`, the executed-plan audit) and the test
  * harness — so a lesson learned in one surface — usually the hard
  * way, in a driver bench record — is automatically carried by all of
  * them:
  *
  *  - `spark.sql.shuffle.partitions` = worker threads, not the 200
  *    default (local mode: 200 partitions = 6x task-scheduling
  *    overhead per exchange for zero extra parallelism);
  *  - UTC session timezone (timestamp queries must agree with the
  *    relational oracle byte-for-byte);
  *  - `spark.sql.legacy.parquet.nanosAsLong` (the events fixture
  *    carries TIMESTAMP(NANOS), read as raw ns longs);
  *  - `spark.sql.ui.explainMode=simple`: plan-description events
  *    (SQLExecutionStart + one SQLAdaptiveExecutionUpdate PER AQE
  *    stage) regenerate the full plan description each time, and the
  *    default "formatted" mode runs ExplainUtils.processPlan — a
  *    whole-tree numbering walk with per-node regexes, single-threaded
  *    on the driver. On many-stage plans (DBSCAN) this measured as
  *    MINUTES of driver CPU per heavy query while 32 executor threads
  *    idled; at 1000-executor scale the same O(stages x plan-size)
  *    burn throttles every AQE replan. "simple" keeps the events,
  *    drops the numbering pass.
  *  - UI off (no jetty, no event-log retention in a bench JVM).
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]],
  *    not Spark's 100. Spark keeps compiled classes in one JVM-wide
  *    LRU keyed by (context class loader, source), so a class used on
  *    the driver thread and in tasks takes two entries. The `corpus`
  *    benchmark's three text calls compile 112 classes with the cap
  *    lifted, so at 100 every pass evicted and recompiled most of
  *    them: 675 compiles per run (1,223 generated classes loaded,
  *    nested ones included) against 112 (213 loaded). The cap is
  *    sized from full `graft.Bench` sf0.1 runs (149 queries,
  *    `local[4]`): the timed queries compile 1,868 classes with the
  *    cap lifted and the same 1,868 at 4096, where the whole run,
  *    warmups included, compiles 2,016 and ends with 220 MB of
  *    metaspace. At 100 the run compiles 2,945 and ends with 204 MB.
  *    4096 entries hold the working set twice over. Spark reads the
  *    value once, when `CodeGenerator` is first initialized in the
  *    JVM, so only the first session's conf counts, and only if
  *    nothing compiled before it; `CodegenCacheSpec` pins the effect.
  *  - `spark.cleaner.referenceTracking.cleanCheckpoints`: the
  *    ContextCleaner deletes a reliable checkpoint's files once its
  *    RDD is collected, so `Lineage.cut`'s `reliable` mode does not
  *    leave every intermediate on the checkpoint store.
  *
  * The HEAP-side lessons (Xms=Xmx, AlwaysPreTouch, 512m code cache,
  * CICompilerCount=16 — the round-11 page-commit-storm forensics)
  * live in build.sbt's `javaOptions`, which sbt applies to EVERY
  * forked JVM (run and test alike); ConfigSpec asserts them at
  * runtime so a build.sbt refactor cannot silently drop them.
  */
object GraftSession {

  /** Entries of Spark's compiled-class cache; see the list above. */
  val CodegenCacheEntries = 4096

  /** Builder with the shared hardened configs applied; callers add
    * surface-specific extras (app name, AQE knobs) before getOrCreate.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** Runs `body` with `settings` in the session conf, then restores
    * each key's previous value, unsetting a key that had none.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prev = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
