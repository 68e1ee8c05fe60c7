package graft.util

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

/** An eager lineage cut: `df` plans as ONE `LogicalRDD` leaf over the
  * materialized rows, and `release()` unpersists exactly the RDD behind
  * that leaf (a no-op for a reliable checkpoint, whose rows live in
  * files). */
final case class Cut(df: DataFrame, release: () => Unit)

/** An exact aggregate of a cut's rows, computed by the job that
  * materializes the cut: `bind` resolves the cut's schema into a fold of
  * one partition's rows, and the driver merges the per-partition results
  * from `zero`. It stays exact when a task re-runs, since an action keeps
  * exactly one result per partition. */
final case class Side[A](bind: StructType => Iterator[InternalRow] => A, zero: A,
    merge: (A, A) => A)

object Side {

  /** The row count. */
  val rows: Side[Long] = Side(_ => it => {
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }, 0L, _ + _)

  /** The exact sum of an integral column's non-null values. */
  def sum(column: String): Side[BigInt] = Side(schema => {
    val read = integral(schema, column)
    it => {
      // a long accumulator, spilled into the BigInt only on overflow
      var big = BigInt(0)
      var s = 0L
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(read.ordinal)) {
          val v = read(r)
          val t = s + v
          if (((s ^ t) & (v ^ t)) < 0) { big += s; s = v } else s = t
        }
      }
      big + s
    }
  }, BigInt(0), _ + _)

  /** The distinct non-null values of an integral column. */
  def distinct(column: String): Side[Set[Long]] = Side(schema => {
    val read = integral(schema, column)
    it => {
      val seen = mutable.HashSet.empty[Long]
      it.foreach(r => if (!r.isNullAt(read.ordinal)) seen += read(r))
      seen.toSet
    }
  }, Set.empty[Long], _ ++ _)

  private final case class Reader(ordinal: Int, long: Boolean) {
    def apply(r: InternalRow): Long = if (long) r.getLong(ordinal) else r.getInt(ordinal).toLong
  }

  private def integral(schema: StructType, column: String): Reader = {
    val i = schema.fieldIndex(column)
    schema(i).dataType match {
      case LongType => Reader(i, long = true)
      case IntegerType => Reader(i, long = false)
      case t => throw new IllegalArgumentException(s"column $column is $t, not an integral type")
    }
  }
}

/** The fixed-point stop rule of [[Lineage.iterate]]: `measure` is an
  * exact aggregate of a round's state, computed inside that round's cut
  * job; two consecutive states that measure equal end the loop, and
  * `nonConvergence` is the message thrown when the round budget runs out
  * first. */
final case class Fixpoint[A](measure: Side[A], nonConvergence: String)

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
  def cut(df: DataFrame, checkpointDir: Option[String] = None): Cut =
    measured(df, Side.rows, checkpointDir)._1

  /** [[cut]] that also returns `side` over the cut's rows, folded by the
    * one action that materializes the cut — no job of its own. A local
    * cut runs exactly that one job; a reliable one adds the checkpoint
    * write Spark runs after it, as a plain reliable cut does. */
  def measured[A](df: DataFrame, side: Side[A],
      checkpointDir: Option[String] = None): (Cut, A) = {
    val dir = checkpointDir.orElse(df.sparkSession.conf.getOption("spark.graft.checkpointDir"))
    val sc = df.sparkSession.sparkContext
    dir.foreach(d => if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    // both media mark the RDD lazily and fill it with the action below; a
    // local checkpoint persists its RDD BEFORE that job runs, so a failure
    // must unpersist it
    val out = if (dir.isDefined) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)
    val rdd = out.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
    require(rdd.isDefined, s"a checkpoint must plan as a LogicalRDD:\n${out.queryExecution.logical}")
    val release = () => { rdd.get.unpersist(blocking = false); () }
    try {
      val fold = side.bind(out.schema)
      val parts = sc.runJob(rdd.get, (it: Iterator[InternalRow]) => fold(it): Any)
      (Cut(out, release), parts.foldLeft(side.zero)((a, p) => side.merge(a, p.asInstanceOf[A])))
    } catch { case e: Throwable => release(); throw e }
  }

  /** The one round loop for operators whose state is a single frame: cut
    * `init`, then per round cut `step(state)` and release the superseded
    * cut as soon as its successor exists. Without `fixpoint` it runs
    * exactly `maxRounds` rounds; with one, every cut (the initial state's
    * and each round's) returns the fixpoint's measure from its own job,
    * the loop stops once two consecutive measures are equal, and throws
    * `IllegalStateException(fixpoint.nonConvergence)` if `maxRounds` pass
    * first. Either way a round costs only its cut's job. On any throw the
    * live cut is released; on return the final cut's frame stays
    * materialized for the caller. */
  def iterate(init: DataFrame, maxRounds: Int, checkpointDir: Option[String] = None,
      fixpoint: Option[Fixpoint[_]] = None)(step: DataFrame => DataFrame): DataFrame = {
    def cutRound(df: DataFrame): (Cut, Option[Any]) = fixpoint match {
      case Some(f) => val (c, m) = measured(df, f.measure, checkpointDir); (c, Some(m))
      case None => (cut(df, checkpointDir), None)
    }
    var (live, last) = cutRound(init)
    try {
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val (next, m) = cutRound(step(live.df))
        live.release()
        live = next
        round += 1
        converged = m.isDefined && m == last
        last = m
      }
      for (f <- fixpoint if !converged) throw new IllegalStateException(f.nonConvergence)
      live.df
    } catch {
      case e: Throwable => live.release(); throw e
    }
  }
}
