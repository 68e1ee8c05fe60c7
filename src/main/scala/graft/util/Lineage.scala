package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** An eager lineage cut: `df` plans as ONE `LogicalRDD` leaf over the
  * materialized rows, and `release()` unpersists exactly the RDD behind
  * that leaf (a no-op for a reliable checkpoint, whose rows live in
  * files). */
final case class Cut(df: DataFrame, release: () => Unit)

/** The engine's one choice of checkpoint MEDIUM. `localCheckpoint`
  * stores executor-local blocks with truncated lineage — cheap, but on a
  * real cluster an executor loss (or eviction under memory pressure)
  * leaves the rows unrecoverable. With `spark.graft.checkpointDir` set on
  * the session, a cut becomes a RELIABLE `checkpoint()` into that
  * directory instead, which survives executor loss (pair it with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so superseded
  * files are reclaimed). Unset keeps `localCheckpoint`.
  *
  * A cut is also the cheap way to STAGE a frame several later queries
  * read: unlike `persist()`, each reference plans as a plain leaf scan,
  * so the plan text never re-prints the staged lineage, adaptive
  * execution opens no per-reference cache stage (and job), and an
  * exchange above two references is reused. */
object Lineage {

  /** Cut `df`: a reliable checkpoint into `checkpointDir`, else into the
    * session's `spark.graft.checkpointDir` (the context's checkpoint
    * directory is set only if it has none), else a local checkpoint. */
  def cut(df: DataFrame, checkpointDir: Option[String] = None): Cut = {
    val dir = checkpointDir.orElse(df.sparkSession.conf.getOption("spark.graft.checkpointDir"))
    val out = dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
    val rdd = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    require(rdd.isDefined, s"an eager checkpoint must plan as a LogicalRDD:\n${out.queryExecution.logical}")
    Cut(out, () => rdd.get.unpersist(blocking = false))
  }
}
