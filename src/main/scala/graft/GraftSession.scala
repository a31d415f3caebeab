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
  *
  * The HEAP-side lessons (Xms=Xmx, AlwaysPreTouch, 512m code cache,
  * CICompilerCount=16 — the round-11 page-commit-storm forensics)
  * live in build.sbt's `javaOptions`, which sbt applies to EVERY
  * forked JVM (run and test alike); ConfigSpec asserts them at
  * runtime so a build.sbt refactor cannot silently drop them.
  */
object GraftSession {

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
}
