package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** An eager lineage cut: `df` plans as ONE `LogicalRDD` leaf over the
  * materialized rows, and `release()` unpersists exactly the RDD behind
  * that leaf (a no-op for a reliable checkpoint, whose rows live in
  * files). */
final case class Cut(df: DataFrame, release: () => Unit)

/** The fixed-point stop rule of [[Lineage.iterate]]: `measure` collects
  * one scalar of a round's state; two consecutive states that measure equal
  * end the loop, and `nonConvergence` is the message thrown when the
  * round budget runs out first. */
final case class Fixpoint(measure: DataFrame => Any, nonConvergence: String)

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
  * exchange above two references is reused.
  *
  * Round state is owned by RDD, never by diffing the context's
  * persisted-RDD set: a diff taken while another query in the same
  * session checkpoints would capture (and later drop) that query's
  * blocks. */
object Lineage {

  /** Cut `df`: a reliable checkpoint into `checkpointDir`, else into the
    * session's `spark.graft.checkpointDir` (the context's checkpoint
    * directory is set only if it has none), else a local checkpoint. A
    * cut that fails leaves no block behind. */
  def cut(df: DataFrame, checkpointDir: Option[String] = None): Cut = {
    val dir = checkpointDir.orElse(df.sparkSession.conf.getOption("spark.graft.checkpointDir"))
    val out = dir match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d)
        df.checkpoint()
      // a local checkpoint persists its RDD BEFORE the job that fills it
      // runs, so materialize it here (still one job: the checkpoint finds
      // every partition cached) where a failure can unpersist it
      case None => df.localCheckpoint(eager = false)
    }
    val rdd = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    require(rdd.isDefined, s"a checkpoint must plan as a LogicalRDD:\n${out.queryExecution.logical}")
    val release = () => { rdd.get.unpersist(blocking = false); () }
    if (dir.isEmpty)
      try rdd.get.count()
      catch { case e: Throwable => release(); throw e }
    Cut(out, release)
  }

  /** The one round loop for operators whose state is a single frame: cut
    * `init`, then per round cut `step(state)` and release the superseded
    * cut as soon as its successor exists. Without `fixpoint` it runs
    * exactly `maxRounds` rounds; with one it measures the initial state
    * and every round's, stops once two consecutive measures are equal,
    * and throws `IllegalStateException(fixpoint.nonConvergence)` if
    * `maxRounds` pass first. On any throw the live cut is released; on
    * return the final cut's frame stays materialized for the caller. */
  def iterate(init: DataFrame, maxRounds: Int, checkpointDir: Option[String] = None,
      fixpoint: Option[Fixpoint] = None)(step: DataFrame => DataFrame): DataFrame = {
    var live = cut(init, checkpointDir)
    try {
      var last = fixpoint.map(_.measure(live.df))
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val next = cut(step(live.df), checkpointDir)
        live.release()
        live = next
        round += 1
        fixpoint.foreach { f =>
          val m = f.measure(live.df)
          converged = last.contains(m)
          last = Some(m)
        }
      }
      for (f <- fixpoint if !converged) throw new IllegalStateException(f.nonConvergence)
      live.df
    } catch {
      case e: Throwable => live.release(); throw e
    }
  }
}
