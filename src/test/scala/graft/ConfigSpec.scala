package graft

import scala.jdk.CollectionConverters._

/** Pins the hardened-configuration contract: the session-level flags
  * every entry point shares via [[GraftSession]], and the JVM-level
  * flags build.sbt must hand EVERY forked JVM (test and run alike) —
  * the round-11 page-commit-storm forensics showed a JVM without
  * Xms=Xmx + AlwaysPreTouch can stall seconds per young GC in the
  * KERNEL on hosts with slow page commit, and a refactor of
  * build.sbt's javaOptions could silently drop that without any
  * functional test noticing.
  */
class ConfigSpec extends SparkSpec {

  test("GraftSession applies the shared hardened session configs") {
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.ui.explainMode") == "simple")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.ui.enabled") == "false")
    assert(c.get("spark.sql.shuffle.partitions") == "8")
    assert(c.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }

  test("Tungsten pages are sized by GraftSession, not derived from the heap") {
    // the memory manager reads the page size once, when the context
    // starts, so the conf key alone would not show that it took effect
    assert(spark.sparkContext.getConf.get("spark.buffer.pageSize") ==
      GraftSession.PageSizeBytes.toString)
    assert(org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes ==
      GraftSession.PageSizeBytes)
  }

  test("the forked JVM carries the heap-hardening flags from build.sbt") {
    val args = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala
    assert(args.exists(_ == "-XX:+AlwaysPreTouch"),
      s"AlwaysPreTouch missing from forked JVM args: $args")
    val xmx = args.collectFirst { case a if a.startsWith("-Xmx") => a.drop(4) }
    val xms = args.collectFirst { case a if a.startsWith("-Xms") => a.drop(4) }
    assert(xmx.isDefined && xms == xmx,
      s"Xms ($xms) must equal Xmx ($xmx) so G1 never uncommits")
    assert(args.exists(_.startsWith("-XX:ReservedCodeCacheSize=")),
      s"code-cache headroom flag missing: $args")
    assert(args.exists(_.startsWith("-XX:CICompilerCount=")),
      s"compiler-thread flag missing: $args")
  }
}
