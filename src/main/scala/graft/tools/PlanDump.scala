package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Sessions

/**
 * Dev-only: write `.explain("formatted")` for the named catalog queries
 * to text files — the before/after plan evidence an optimization round
 * commits under plans/r{N}/.
 *
 * Args: <outDir> <suffix> <query1> [query2 ...]
 * Writes <outDir>/<query>_<suffix>.txt per query.
 *
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so plan
 * shapes match what the bench measures), SPARK_GRAFT_CPUS (default 32).
 * Entries that run eager work during construction (loops, store writes,
 * trigger bodies) execute it here. The file holds the RETURNED frame's
 * formatted plan, then `== <action>` and the optimized logical plan of
 * every action `run` executed, in order.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    Files.createDirectories(Paths.get(outDir))
    val markerDir = Files.createTempDirectory("plandump").toString
    names.foreach { name =>
      // every action `run` executes, in order; the listener bus is
      // asynchronous, so a marker write flushes it
      val actions = new java.util.concurrent.LinkedBlockingQueue[String]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
          actions.add(s"== $funcName\n" + scala.util.Try(qe.optimizedPlan.treeString)
            .getOrElse("<no optimized plan>\n"))
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
          onSuccess(s"$funcName (failed)", qe, 0L)
      }
      spark.listenerManager.register(listener)
      val marker = s"$markerDir/$name"
      val df =
        try {
          val df = graft.queries.Catalog.byName(name).run(spark, d)
          spark.range(1).write.mode("overwrite").parquet(marker)
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!actions.asScala.exists(_.contains(marker)) &&
            System.nanoTime() < deadline) Thread.sleep(20)
          require(actions.asScala.exists(_.contains(marker)), s"$name: listener bus not flushed")
          df
        } finally spark.listenerManager.unregister(listener)
      val plans = actions.asScala.takeWhile(!_.contains(marker)).toSeq
      val txt = (df.queryExecution.explainString(FormattedMode) +: plans).mkString("\n")
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${plans.size} actions, ${txt.length} chars)")
      Sessions.reap(spark)
    }
    spark.stop()
  }
}
