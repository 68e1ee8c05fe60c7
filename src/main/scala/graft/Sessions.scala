package graft

import org.apache.spark.sql.SparkSession

/**
 * The one way a graft main gets a session and cleans up between
 * queries. The correctness gate (Verify), the bench (Bench), the plan
 * tools and the probes all build through [[local]], so the plans the
 * gate checks are the plans the bench times.
 */
object Sessions {

  /** A `local[cpus]` session with graft's harness settings. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // local-mode knob: the sf0.1 parquet files are single small splits,
      // which would serialize CPU-bound per-row operators (hashing,
      // signatures) onto one core. Splitting at 16 KiB plans one split per
      // local core for the ~600 KB documents file, but a parquet split
      // holds whole row groups and the file is ONE row group, so all its
      // rows still land in one split; Tables.documents redistributes such
      // a scan to the planned split count, behind a fence that keeps a
      // caller's filters (and their text kernels) above the exchange, on
      // every split. At real scale inputs arrive as thousands of splits
      // and these two settings are left at their defaults.
      .config("spark.sql.files.openCostInBytes", "16384")
      .config("spark.sql.files.minPartitionNum", cpus)
      // the whole-stage-codegen class cache is JVM-GLOBAL and defaults to
      // 100 entries; a 210-query suite generates thousands of distinct
      // codegen'd stages, so late-suite queries evict early ones and every
      // repetition recompiles (janino) and re-JITs INSIDE the timers —
      // part of the documented late-suite wobble class (BENCH_NOTES). At
      // ~50 KB per cached class this is ~200 MB of heap. A long-lived
      // production session running a diverse query mix wants the same
      // headroom; it is not a local[32]-only knob.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Shuffle-file cleanup stays OFF. Since Spark 4.1 the unprefixed
      // fileCleanup key is only the deprecated alias of the CONNECT
      // config; classic sessions read
      // spark.sql.classic.shuffleDependency.fileCleanup.enabled. Setting
      // that key made the iteration-class entries 3-8x slower (c9
      // 7->57.7 s, g10 6.5->18.6 s; BENCH_NOTES round 14): those
      // operators run many actions over the SAME DataFrames per query,
      // and Spark reuses the earlier actions' map outputs via
      // MapOutputTracker — eager per-execution deletion throws that reuse
      // away and every round recomputes its predecessors' shuffles.
      // [[reap]], outside the timers, is the cleanup instead.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // reap's unpersist of locally-checkpointed RDDs makes
    // org.apache.spark.rdd emit one "lineage has been truncated" WARN per
    // RDD — thousands per suite, enough to push the bench's summary line
    // out of a captured output tail. The unpersist is deliberate, so the
    // warning carries no information here: silence the package.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Between-query cleanup, to run OUTSIDE any timer: drop cached
    * tables, unpersist every persisted RDD, then collect garbage.
    * Leftover persisted blocks (e.g. an operator's final eager
    * checkpoint, which has no recompute path and so must stay alive for
    * its caller) and GC-driven broadcast/shuffle cleanup otherwise land
    * inside a later query's timer — measured as 2-4x swings on whichever
    * heavy query happened to absorb the cleanup. */
  def reap(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    // ContextCleaner drains its reference queue ASYNCHRONOUSLY after the
    // gc — give it a beat so broadcast/shuffle removals don't spill into
    // the next query's timer.
    Thread.sleep(150)
  }
}
