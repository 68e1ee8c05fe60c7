package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.StructType

/**
 * One OVERWRITE-VERSIONED parquet state of a foreachBatch fold body:
 * trigger `batchId` writes `<dir>/<prefix><batchId+1>` (e.g. `dict_v3`)
 * from version `batchId` plus the trigger. Readers never
 * see a half-folded state, and a RETRY of a batchId rewrites the
 * identical version — effectively-once without a transaction log. Each
 * trigger rewrites the whole state, so it must stay metadata-sized;
 * data-sized keyed state belongs in [[FrontierState]]'s manifest chain.
 */
final case class VersionedState(prefix: String, schema: StructType) {
  def path(dir: String, v: Long): String = s"$dir/$prefix$v"

  /** Version `v`; version 0, before the first trigger, is empty. */
  def read(spark: SparkSession, dir: String, v: Long): DataFrame =
    if (v == 0) spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else spark.read.schema(schema).parquet(path(dir, v))

  def write(df: DataFrame, dir: String, v: Long): Unit =
    df.write.mode("overwrite").parquet(path(dir, v))

  /** Trigger `batchId`'s step: version `batchId + 1` is `delta` on the
    * first trigger, else `merge(version batchId, delta)`. */
  def fold(dir: String, batchId: Long, delta: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
    write(if (batchId == 0) delta
      else merge(read(delta.sparkSession, dir, batchId), delta), dir, batchId + 1)

  /** [[fold]] whose merge sums `sums` per `keys` over the previous version
    * unioned (by position) with `delta`. */
  def sumFold(dir: String, batchId: Long, delta: DataFrame, keys: Seq[String],
      sums: Seq[String]): Unit =
    fold(dir, batchId, delta) { (prev, d) =>
      prev.unionAll(d).groupBy(keys.map(col): _*)
        .agg(sum(col(sums.head)).as(sums.head), sums.tail.map(c => sum(col(c)).as(c)): _*)
    }
}

object VersionedState {
  def apply(prefix: String, ddl: String): VersionedState =
    VersionedState(prefix, StructType.fromDDL(ddl))
}
