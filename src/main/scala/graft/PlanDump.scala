package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: the eager-checkpoint pipelines (DBSCAN, lake, near-dup)
  * run their interesting plans in INTERIOR actions, so a plain
  * `explain` of the returned frame shows only the trivial
  * post-checkpoint scan. This main captures EVERY executed plan via a
  * QueryExecutionListener and prints the join/exchange skeleton of
  * each — the tool for auditing which join strategies actually ran at
  * a given scale. Usage:
  *   SPARK_GRAFT_SF_DIR=... runMain graft.PlanDump <query> [<query>..]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .appName("plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution,
          duration: Long): Unit = plans.add(qe)
      override def onFailure(name: String, qe: QueryExecution,
          e: Exception): Unit = plans.add(qe)
    }
    spark.listenerManager.register(listener)
    args.foreach { name =>
      plans.clear()
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      Profile.drain(spark) // the listener bus delivers async
      import scala.jdk.CollectionConverters._
      plans.asScala.zipWithIndex.foreach { case (qe, i) =>
        val lines = qe.executedPlan.toString.linesIterator
          .filter(l => l.contains("Join") || l.contains("Exchange")
            || l.contains("Aggregate") || l.contains("Generate")
            || l.contains("Window")
            // cache hits and AQE re-reads tell re-execution apart from
            // the pretty-printer expanding a cached relation's plan
            || l.contains("InMemoryTableScan") || l.contains("TableCacheQueryStage")
            || l.contains("AQEShuffleRead"))
          .take(120).toSeq
        if (lines.nonEmpty) {
          println(s"--- interior plan $i ---")
          lines.foreach(l => println(l.take(200)))
        }
      }
    }
    spark.stop()
  }
}
