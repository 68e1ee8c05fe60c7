package graft.tools

import java.nio.file.{Files, Paths}

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
 * Entries that run eager driver-side work during construction (iterative
 * loops, store writes) execute that work here; the dumped plan is the
 * RETURNED frame's, same scope as ExplainAudit.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = graft.queries.Catalog.byName(name).run(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      Sessions.reap(spark)
    }
    spark.stop()
  }
}
