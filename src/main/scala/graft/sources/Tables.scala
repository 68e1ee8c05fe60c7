package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

/**
 * Batch table readers over the driver-generated parquet directory layout
 * (one parquet file/dir per table, see TESTDATA.md).
 *
 * Mirrors the reference's source layer (reference: services/source_extractor/
 * db_storage.py — raw payload tables keyed by source) re-expressed as plain
 * Spark parquet scans so Catalyst gets column pruning + predicate pushdown
 * for free. At 100 TB these scans are the only contact with storage: every
 * operator downstream declares filters/projections declaratively so they
 * reach this scan.
 */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /**
   * events.parquet's `ts` encoding varies by generator version: older
   * drops carry TIMESTAMP(NANOS) — which Spark's vectorized reader
   * rejects, so the read happens under the nanos-as-long legacy flag and
   * the BIGINT is floor-converted to the engine-native microsecond
   * timestamp (floor matches DuckDB for positive epochs) — while newer
   * drops carry plain TIMESTAMP(MICROS), landing as (NTZ) timestamps the
   * flag never touches. The adapter normalizes BOTH shapes to one
   * session-zone TIMESTAMP column, keyed off the RESOLVED type, so every
   * downstream operator and oracle sees identical values either way
   * (sessions run UTC; an NTZ→TZ cast is value-preserving there).
   *
   * The legacy flag only matters while `spark.read.parquet` resolves the
   * schema (it is baked into the relation), so it is set just for this
   * call and restored — no session-global mutation leaks out.
   */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    val raw =
      try table(spark, dir, "events")
      finally prev match {
        case Some(v) => spark.conf.set(flag, v)
        case None => spark.conf.unset(flag)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", raw.col("ts").cast("timestamp"))
    }
  }
  /**
   * The documents table, spread over the splits Spark plans for it. A
   * parquet split holds whole row groups, so a file written as one row
   * group lands in ONE of its splits however many the session plans (the
   * testdata and the benchmark inputs are all single-row-group files):
   * the per-document text kernels, shingle explodes and signatures above
   * the scan would then run on one core. When the files hold fewer row
   * groups than the scan's planned split count, the scan is hash-
   * redistributed by doc_id to that count, an explicit count AQE does
   * not coalesce; otherwise the plain scan is returned. Footers are read
   * for at most that many files. Other tables keep the plain scan:
   * their cheap relational aggregates lose more to the extra exchange
   * than they gain from the spread.
   *
   * The redistribution carries a pushdown FENCE, `sample(1.0)`: Catalyst
   * pushes a filter through a repartition, so without it a caller's
   * filter (a language or quality gate whose text kernels are the
   * costliest per-row work in a corpus build) would run below the
   * exchange, inside the one scan task that holds the row group, and the
   * spread would only move the survivors. A sample without replacement at
   * fraction 1.0 keeps every row, costs one random draw per row, and is
   * an operator Catalyst does not push filters through; its seed is fixed
   * because whole-stage code inlines it, and a fresh seed per call would
   * recompile the stage on every query. The trade-off, on
   * this branch only: a cheap selective filter (say `doc_id % 20 = 0`)
   * no longer reaches the scan either, so the exchange carries every
   * document instead of the survivors. Files with enough row groups keep
   * the plain scan and full pushdown.
   */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "documents")
    val splits = raw.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.getOrElse(1)
    if (splits > 1 && fewerRowGroupsThan(spark, raw.inputFiles.toSeq, splits))
      raw.repartition(splits, raw.col("doc_id"))
        .sample(withReplacement = false, fraction = 1.0, seed = 0L)
    else raw
  }

  /** Whether `files` hold fewer than `n` row groups, reading footers only
    * until the running count reaches `n` (so at most `n` files). */
  private def fewerRowGroupsThan(spark: SparkSession, files: Seq[String], n: Int): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val counts = files.iterator.take(n).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try r.getRowGroups.size finally r.close()
    }
    !counts.scanLeft(0)(_ + _).exists(_ >= n)
  }

  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /**
   * Incremental read: only rows with `tsCol` strictly greater than the
   * watermark (reference: dbt fact_jobs.sql `is_incremental()` block and
   * normalizer fetch_raw_jobs `collected_at >` cursor). The predicate is a
   * plain Column filter so it is pushed down to the parquet scan (and at
   * real scale prunes date partitions entirely).
   */
  def incremental(df: DataFrame, tsCol: String, watermark: String): DataFrame =
    df.filter(df(tsCol) > watermark)
}
