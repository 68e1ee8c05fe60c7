package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * Write/publish path (reference: services/publisher_hyper/exporter.py —
 * the mart-export step), re-expressed as the two layout decisions that
 * matter at 100 TB:
 *
 *  - [[writePartitioned]]: hive-style directory partitioning. Downstream
 *    incremental consumers (the daily fact build, an ANN probe) then get
 *    PARTITION PRUNING at the file-listing level — a date- or
 *    LSH-bucket-partitioned corpus turns "scan 100 TB" into "scan one
 *    partition".
 *  - [[writeBucketed]]: hash-bucketed + sorted table on a join/merge key.
 *    Repeated daily upserts (Upsert.merge on hash_key) and fact-dim joins
 *    against a table bucketed on the same key skip the big side's shuffle
 *    entirely — the single largest recurring cost of a daily 100-TB merge
 *    (SURVEY.md §5 "write-side bucketing").
 */
object Sink {

  /** Partitioned parquet write; `partitionCols` become directory keys that
    * Spark prunes on read when a filter touches them. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Publish/consume roundtrip: write `df` hive-partitioned at `path`,
    * read it back, and return the frame filtered to ONE partition value —
    * the shape every downstream incremental consumer runs. The filter
    * lands in the scan's PartitionFilters (directory-level pruning, no
    * data files of other partitions touched — asserted in SinkSpec). */
  def publishRoundtrip(spark: SparkSession, df: DataFrame, path: String,
      partitionCol: String, value: String): DataFrame = {
    writePartitioned(df, path, Seq(partitionCol))
    spark.read.parquet(path).filter(col(partitionCol) === value)
  }

  /**
   * SIZE-BUDGETED compaction of a hive-partitioned store: rewrite `df`
   * under `destPath` so every partition value holds at most
   * ceil(partitionRows / targetRowsPerFile) files. Each partition's rows
   * are dealt to that many deterministic salt groups (xxhash64 of
   * `saltCol` mod the partition's own group count — derived from a
   * per-partition count that joins back broadcast, one row per
   * partition value) and the shuffle distributes on (partition, group).
   *
   * The salt is the load-bearing half: compacting with a bare
   * `repartition(partitionCol)` sends a HOT partition's entire row set
   * to ONE task and ONE monolithic file — recreating, at the hot end,
   * the straggler/giant-file problem compaction exists to solve. A real
   * compactor targets a FILE-SIZE budget, not a file-count of one;
   * here a popular partition compacts to several bounded files written
   * by several tasks, and the cold tail still collapses to one file
   * each. Group→task collisions can only MERGE groups of one partition
   * (fewer, larger files — never more than the target).
   *
   * Returns the per-partition-value file budget (`partitionCol`,
   * `_rows`, `_max_files`) for the caller's gate: "every partition ≤ its
   * budget AND strictly fewer total files than before" is checkable
   * in-engine via input_file_name with no driver listing.
   */
  def compactPartitioned(df: DataFrame, destPath: String, partitionCol: String,
      saltCol: String, targetRowsPerFile: Long): DataFrame = {
    require(targetRowsPerFile >= 1, "targetRowsPerFile must be positive")
    import org.apache.spark.sql.functions.{broadcast, ceil, count, lit, pmod, sum, xxhash64}
    val budgets = df.groupBy(col(partitionCol))
      .agg(count(lit(1)).as("_rows"))
      .withColumn("_max_files",
        ceil(col("_rows").cast("double") / targetRowsPerFile).cast("int"))
      .cache()
    // the write width IS the total file budget: an explicit task count
    // (REPARTITION_BY_NUM) pins it — a column-only repartition is
    // adaptive, and AQE happily coalesces a small shuffle into one task,
    // silently restoring the one-monolithic-file-per-hot-partition shape
    // this function exists to prevent
    val nTasks = budgets.agg(sum(col("_max_files"))).first().getLong(0)
    require(nTasks <= Int.MaxValue, s"file budget $nTasks exceeds task limit")
    val salted = df
      .join(broadcast(budgets.select(col(partitionCol), col("_max_files"))),
        Seq(partitionCol))
      .withColumn("_grp", pmod(xxhash64(col(saltCol)), col("_max_files").cast("bigint")))
    salted.repartition(nTasks.toInt, col(partitionCol), col("_grp"))
      .drop("_grp", "_max_files")
      .write.mode("overwrite").partitionBy(partitionCol).parquet(destPath)
    budgets
  }

  /**
   * Targeted DELETE (right-to-erasure / tombstone purge) on a
   * hive-partitioned store whose partition column derives from the key
   * (`bucket = f(key)`): the delete log alone names every partition that
   * can possibly hold a doomed row, so the purge rewrites ONLY those
   * partitions and the rest of a 100-TB store moves to the new snapshot
   * as pure METADATA operations (directory renames here — the analog of
   * a table format carrying forward unchanged data files by manifest
   * pointer; at 100 TB the rewritten fraction is
   * affectedPartitions/allPartitions, never 1).
   *
   * Discipline (mergeStateVersion's): the purged store is published at
   * `newPath` — never overwrite a path being read. Order matters and is
   * load-bearing: survivors are WRITTEN (from the still-complete old
   * store) before any rename touches it, so no read ever races a move.
   *
   * Steps:
   *  1. affected partition values := distinct `partitionCol` of the log
   *     (derived from the key — tiny, collected; bounded by the
   *     partition count, the same coordinator-state class as centroids);
   *  2. survivors of affected partitions := store filtered to those
   *     values (the filter must reach the scan's PartitionFilters —
   *     THROWS otherwise, so "purge reads only affected partitions" is a
   *     gate invariant, not a hope) anti-joined against the broadcast
   *     key log, written under `newPath`;
   *  3. every unaffected partition directory is RENAMED into the new
   *     snapshot unread and unrewritten.
   *
   * `tombstones` must carry `keyCol` and `partitionCol` (the caller
   * derives the partition from the key — that derivability IS the
   * design contract that makes deletes targeted).
   */
  def purgeTombstones(spark: SparkSession, storeDf: DataFrame, storePath: String,
      newPath: String, partitionCol: String, keyCol: String,
      tombstones: DataFrame): Unit = {
    import org.apache.spark.sql.functions.broadcast
    val affected = tombstones.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    require(affected.nonEmpty, "empty delete log: nothing to purge")
    val survivors = storeDf
      .filter(col(partitionCol).isin(affected.toSeq: _*))
      .join(broadcast(tombstones.select(col(keyCol))), Seq(keyCol), "left_anti")
    assertPartitionPruned(survivors, partitionCol)
    // write BEFORE any rename: the scan's file listing points into the
    // old store, which must stay intact until this action completes
    survivors.write.mode("append").partitionBy(partitionCol).parquet(newPath)
    carryForward(spark, storePath, newPath, partitionCol, affected)
  }

  /** RENAME every `partitionCol=` dir of `storePath` not in `affected` into
    * `newPath`, on the store path's own filesystem (not the default one). */
  private def carryForward(spark: SparkSession, storePath: String, newPath: String,
      partitionCol: String, affected: Set[Any]): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(storePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(newPath))
    fs.listStatus(base).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(s"$partitionCol="))
      .filterNot(p => affected.exists(v => p.getName == s"$partitionCol=$v"))
      .foreach { p =>
        if (!fs.rename(p, new Path(newPath, p.getName)))
          throw new IllegalStateException(s"carry-forward rename failed: $p")
      }
  }

  /**
   * MERGE-ON-READ deletion vectors — the delete tier BELOW
   * [[purgeTombstones]]'s copy-on-write rewrite (Delta deletion vectors /
   * Iceberg v2 positional delete files, Spark-first). Copy-on-write
   * makes delete-time cost O(affected-partition BYTES): one doomed row
   * in a 10-GB bucket rewrites the bucket. A deletion vector makes it
   * O(DELETED rows): the delete writes only a positional sidecar —
   * (file, row position) pairs — and every reader overlays it; the
   * bytes move later, once, when a fold (compaction) materializes the
   * survivors. Row positions come from the scan's own
   * `_metadata.file_path` / `_metadata.row_index` columns (stable: a
   * parquet row's index in its immutable file never changes), exactly
   * the identity Delta's DVs bind to.
   *
   * Three steps, each its own method so gates can hold each invariant
   * separately:
   *  - [[readWithPosition]]: the store scan + positional identity
   *    columns `__file` / `__pos`;
   *  - [[buildDeletionVectors]]: tombstone keys → DV rows, reading ONLY
   *    the partitions the (derivable-bucket) log names — THROWS unless
   *    the scan partition-prunes; after this, the delete is DONE and no
   *    data file has been touched;
   *  - [[readMergeOnRead]]: the reader overlay — one broadcast
   *    anti-join on (file, position), deliberately key-blind: the
   *    sidecar ALONE decides visibility, so the gate proves the DV
   *    mechanism, not a hidden key filter;
   *  - [[foldDeletionVectors]]: the deferred rewrite —
   *    [[purgeTombstones]]'s snapshot discipline (affected partitions
   *    rewritten through the DV overlay, unaffected partitions carried
   *    forward by RENAME), after which the sidecar is obsolete.
   */
  def readWithPosition(spark: SparkSession, schema: String, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)
      .select(col("*"),
        col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))

  /** Doomed (file, position, partition) rows for `tombstones` keys.
    * Scans only the log's partitions (gate-asserted); the store is not
    * modified — persisting the returned frame IS the whole delete. */
  def buildDeletionVectors(spark: SparkSession, schema: String, storePath: String,
      partitionCol: String, keyCol: String, tombstones: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val affected = tombstones.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    require(affected.nonEmpty, "empty delete log: nothing to delete")
    val doomed = readWithPosition(spark, schema, storePath)
      .filter(col(partitionCol).isin(affected.toSeq: _*))
      .join(broadcast(tombstones.select(col(keyCol))), Seq(keyCol), "left_semi")
      .select(col("__file"), col("__pos"), col(partitionCol))
    assertPartitionPruned(doomed, partitionCol)
    doomed
  }

  /** The reader overlay: store rows minus DV positions. Key-blind by
    * design — only (file, position) decides. DVs are deleted-row-sized,
    * so the anti-join broadcasts; the store side stays a straight scan. */
  def readMergeOnRead(storeWithPos: DataFrame, dv: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    storeWithPos
      .join(broadcast(dv.select(col("__file"), col("__pos"))),
        Seq("__file", "__pos"), "left_anti")
      .drop("__file", "__pos")
  }

  /** Materialize the DV overlay into a new snapshot: partitions named by
    * the DV are rewritten through [[readMergeOnRead]]; every other
    * partition directory RENAMES across (metadata only, bytes unmoved).
    * After this the sidecar is obsolete — the caller drops it. Write
    * precedes any rename ([[purgeTombstones]]'s ordering discipline). */
  def foldDeletionVectors(spark: SparkSession, schema: String, storePath: String,
      newPath: String, partitionCol: String, dv: DataFrame): Unit = {
    val affected = dv.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    require(affected.nonEmpty, "empty deletion vector: nothing to fold")
    val survivors = readMergeOnRead(
      readWithPosition(spark, schema, storePath)
        .filter(col(partitionCol).isin(affected.toSeq: _*)),
      dv)
    assertPartitionPruned(survivors, partitionCol)
    survivors.write.mode("append").partitionBy(partitionCol).parquet(newPath)
    carryForward(spark, storePath, newPath, partitionCol, affected)
  }

  /** THROW unless `df`'s scan prunes on `partitionCol` — i.e. some file
    * scan carries a partition filter referencing it. The
    * [[purgeTombstones]] invariant ("a targeted delete reads only the
    * partitions the log names"), checked on the INITIAL plan like
    * [[assertNoBucketedScanBelowShuffle]]. */
  private[graft] def assertPartitionPruned(df: DataFrame, partitionCol: String): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val pruned = plan
      .collect { case f: FileSourceScanExec => f }
      .exists(_.partitionFilters.exists(_.references.exists(_.name == partitionCol)))
    if (!pruned)
      throw new IllegalStateException(
        s"scan must prune on partition column '$partitionCol':\n$plan")
  }

  /**
   * Z-ORDER clustered layout + file-level min/max DATA SKIPPING — the
   * multi-column pruning tier below directory partitioning (the
   * Delta/Iceberg `OPTIMIZE ZORDER BY` + stats-manifest pattern,
   * Spark-first). Directory partitioning prunes on ONE key hierarchy; a
   * 100-TB fact queried by ad-hoc 2-D boxes (user × value, time × key)
   * needs every file to be SMALL IN BOTH dimensions at once, which no
   * single-column sort gives: sorting by A packs each file tight in A
   * but full-range in B, so B-predicates prune nothing.
   *
   * [[writeZordered]] interleaves the bits of both columns' 8-bit
   * quantized ranks (Morton code — a shiftleft/bitwise-OR fold, pure
   * codegen'd scalar ops) and partitions the rows on that code into at
   * most `nFiles` files of contiguous z-ranges: each file covers a
   * compact z-curve segment, i.e. a bounded rectangle-ish region of the
   * (c1, c2) plane. The quantization bounds come from one tiny min/max
   * aggregate of the input (the stats pass every clustered write does),
   * and the file CUT POINTS come from an EXACT histogram of the 16-bit
   * z-code (one groupBy over ≤ 65,536 distinct codes, collected —
   * O(codes) coordinator state independent of row count, the same class
   * as centroids). Exact cuts replace `repartitionByRange`'s SAMPLED
   * boundaries: the layout — and therefore every downstream skip-rate
   * measurement — is a deterministic function of the data, not of the
   * sampler's seed or the cluster's parallelism. Rows are routed to
   * their cut bucket through a collision-free slot remap (each bucket id
   * is replaced by a probed representative whose Murmur3 hash lands on a
   * distinct partition slot), so `repartition(n, slot)` places exactly
   * one contiguous z-range per output file with no sampling pass at all.
   *
   * [[skippingManifest]] then reads the layout back ONCE and derives the
   * per-file (min, max) envelope of both columns — the file-level stats
   * manifest a table format persists next to the data (here: collected
   * to the driver, O(nFiles) rows, the same coordinator-state class as
   * centroids). [[readSkipping]] evaluates a conjunctive box predicate
   * against the manifest and hands Spark ONLY the surviving files —
   * pruning happens at the FILE LIST, before any scan task launches.
   * Min/max envelopes are conservative: a skipped file provably holds no
   * matching row, so skipping can change I/O, never answers.
   */
  def writeZordered(df: DataFrame, path: String, c1: String, c2: String,
      nFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{count, floor, least, lit, max, min, shiftleft, shiftright}
    require(nFiles >= 2, "z-order layout needs at least 2 files to skip any")
    val b = df.agg(min(col(c1)).cast("double").as("lo1"), max(col(c1)).cast("double").as("hi1"),
      min(col(c2)).cast("double").as("lo2"), max(col(c2)).cast("double").as("hi2"),
      count(lit(1)).as("n"), count(col(c1)).as("n1"), count(col(c2)).as("n2")).first()
    // A null in either cluster column would produce a null z-code group
    // and an opaque NPE in the histogram collect below; a null has no
    // place on the z-curve at all (its file envelope would be unbounded),
    // so fail fast with the actual column named.
    require(b.getLong(4) == b.getLong(5) && b.getLong(4) == b.getLong(6),
      s"z-order cluster columns must be non-null: $c1 has ${b.getLong(4) - b.getLong(5)}" +
        s" null(s), $c2 has ${b.getLong(4) - b.getLong(6)} — filter or coalesce before layout")
    def quant(c: String, lo: Double, hi: Double) = {
      val w = if (hi > lo) hi - lo else 1.0
      least(floor((col(c).cast("double") - lo) / w * 256.0), lit(255.0)).cast("int")
    }
    val q1 = quant(c1, b.getDouble(0), b.getDouble(1))
    val q2 = quant(c2, b.getDouble(2), b.getDouble(3))
    val z = (0 until 8).foldLeft(lit(0)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(q1, i).bitwiseAND(1), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(q2, i).bitwiseAND(1), 2 * i))
    }
    val zed = df.withColumn("_z", z)
    // Exact cut points from the full z histogram (≤ 2^16 rows however
    // large df is): greedy walk over the sorted codes, closing a bucket
    // once it holds ≥ total/nFiles rows. Deterministic — no sampling.
    val hist = zed.groupBy(col("_z")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = hist.map(_._2).sum
    val perFile = math.max(1L, (total + nFiles - 1) / nFiles)
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int] // bucket k = codes in [cuts(k-1), cuts(k))
    var acc = 0L
    hist.foreach { case (code, n) =>
      acc += n
      if (acc >= perFile && cuts.length < nFiles - 1) { cuts += code + 1; acc = 0L }
    }
    val nBuckets = cuts.length + 1
    val bucket = cuts.foldLeft(lit(0)) { (b, cut) =>
      b + org.apache.spark.sql.functions.when(col("_z") >= cut, 1).otherwise(0)
    }
    zed.withColumn("_slot", collisionFreeSlotKey(bucket, nBuckets))
      .repartition(nBuckets, col("_slot"))
      .sortWithinPartitions("_z")
      .drop("_z", "_slot")
      .write.mode("overwrite").parquet(path)
  }

  /**
   * Collision-free slot remap for DETERMINISTIC file placement:
   * `repartition(n, key)` places a row by pmod(murmur3(key), n), so
   * distinct bucket values can collide into one task/file; this maps
   * each `bucket` ∈ [0, n) to a probed representative int whose hash
   * occupies a distinct slot — exactly one output file per bucket.
   * Because the bucket column itself is a pure row expression, the
   * whole layout is a pure function of (data, n) — unlike
   * `repartition(n)` round-robin, whose row→file assignment shifts
   * with input parallelism, or `repartitionByRange`, whose cuts shift
   * with the RangePartitioner sample (the w12 flake class).
   */
  def collisionFreeSlotKey(bucket: Column, n: Int): Column = {
    import org.apache.spark.sql.functions.{array, element_at, lit}
    val taken = scala.collection.mutable.Set.empty[Int]
    // Bounded probe: murmur3 over consecutive ints behaves uniformly, so
    // the expected probes per bucket are n/(free slots) — a coupon-
    // collector O(n log n) total. The bound is a defensive backstop (it
    // would take an adversarial hash break to hit), not a live code path.
    // Long arithmetic: n*n*64 as Int overflows past n ≈ 8200, collapsing
    // the bound below the ~n·ln(n) probes coupon-collector needs.
    val probeBound = math.max(1000L, 64L * n * n)
    // the probe COUNTER must be as wide as the bound: an Int m wraps
    // negative once 64L*n*n exceeds Int.MaxValue (n ≈ 8200+) and the
    // require becomes unreachable — the backstop would probe negative
    // ints forever instead of failing cleanly (round-15 advice). The
    // REPRESENTATIVE stays an Int (m.toInt): downstream hashing of the
    // slot-key column is hashInt, and wrap-around just continues the
    // probe sequence through distinct int values.
    val reps = (0 until n).map { _ =>
      var m = 0L
      def slot(v: Int) = {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        ((h % n) + n) % n
      }
      while (taken.contains(slot(m.toInt))) {
        m += 1
        require(m < probeBound,
          s"slot probe exhausted $probeBound candidates for $n buckets")
      }
      taken += slot(m.toInt); m.toInt
    }
    element_at(array(reps.map(lit): _*), bucket.cast("int") + 1)
  }

  /** One pass over the clustered layout → per-file (path, min, max) of
    * both skip columns, collected (O(nFiles) — the persisted stats
    * manifest of a table format). */
  def skippingManifest(spark: SparkSession, path: String, schema: String,
      c1: String, c2: String): Array[(String, Double, Double, Double, Double)] = {
    import org.apache.spark.sql.functions.{input_file_name, max, min}
    spark.read.schema(schema).parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c1)).cast("double").as("lo1"), max(col(c1)).cast("double").as("hi1"),
        min(col(c2)).cast("double").as("lo2"), max(col(c2)).cast("double").as("hi2"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
  }

  /** Box query through the manifest: keep only files whose [min,max]
    * envelope intersects the box, scan just those, re-apply the exact
    * predicate. Returns (surviving frame, files kept, files total). */
  def readSkipping(spark: SparkSession, manifest: Array[(String, Double, Double, Double, Double)],
      schema: String, c1: String, lo1: Double, hi1: Double,
      c2: String, lo2: Double, hi2: Double): (DataFrame, Int, Int) = {
    val keep = manifest.filter { case (_, flo1, fhi1, flo2, fhi2) =>
      fhi1 >= lo1 && flo1 <= hi1 && fhi2 >= lo2 && flo2 <= hi2 }
    require(keep.nonEmpty, "box predicate selects no files — fixture must hit data")
    val df = spark.read.schema(schema).parquet(keep.map(_._1).toIndexedSeq: _*)
      .filter(col(c1) >= lo1 && col(c1) <= hi1 && col(c2) >= lo2 && col(c2) <= hi2)
    (df, keep.length, manifest.length)
  }

  /**
   * Per-file BLOOM-FILTER membership manifest — the skipping tier
   * [[skippingManifest]]'s min/max envelopes cannot provide (Delta's
   * bloom-filter index / parquet bloom filters, Spark-first): a POINT
   * LOOKUP on a high-cardinality key over an arrival-ordered layout
   * defeats both directory partitioning (wrong column) and min/max
   * stats (every file spans the whole key range), yet each file holds
   * only rows/nFiles of the keys — membership is exactly what a bloom
   * summarizes in O(bits) per file.
   *
   * The filter is built DECLARATIVELY as a mergeable sketch (the r5/r6
   * discipline): each row contributes k=`kHashes` positions
   * (`xxhash64(seed, key) mod mBits` — seeded by prepending the seed to
   * the hash input), positions pack into (file, word, bits) rows via one
   * `bit_or` aggregate — map-side partials, and an APPENDED file merges
   * into the manifest by adding rows, no rebuild. Collected to the
   * driver: nFiles × mBits/64 longs, the same coordinator-state class
   * as [[skippingManifest]].
   *
   * [[bloomProbeFiles]] evaluates probe keys against the manifest —
   * positions computed by the SAME Catalyst expression over a tiny
   * probe frame, so engine and manifest can never disagree on the hash —
   * and returns only files where EVERY position of SOME probe is set.
   * No false negatives (a present key's bits are all set by
   * construction), so skipping changes I/O, never answers; false
   * positives only cost an extra file scan that the exact residual
   * filter empties.
   */
  def bloomManifest(spark: SparkSession, schema: String, path: String,
      keyCol: String, mBits: Int, kHashes: Int): Array[(String, Int, Long)] = {
    import org.apache.spark.sql.functions.{bit_or, expr}
    spark.read.schema(schema).parquet(path)
      .select(col("_metadata.file_path").as("__file"),
        bloomPositions(keyCol, mBits, kHashes).as("__ps"))
      .select(col("__file"), expr("explode(__ps)").as("pos"))
      .groupBy(col("__file"), expr("CAST(pos / 64 AS INT)").as("word"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"))
        .as("bits"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
  }

  /** The k bloom positions of `keyCol` as an array column. Shared by
    * build and probe — the no-drift rule applied to the hash. */
  private def bloomPositions(keyCol: String, mBits: Int, kHashes: Int) = {
    import org.apache.spark.sql.functions.{array, lit, pmod, xxhash64}
    array((1 to kHashes).map(seed =>
      pmod(xxhash64(lit(seed), col(keyCol)), lit(mBits.toLong))): _*)
  }

  /** Files that may hold ANY of `probes` according to the manifest.
    * Probe positions come from the same expression the build used,
    * evaluated over a tiny in-memory frame. */
  def bloomProbeFiles(spark: SparkSession, manifest: Array[(String, Int, Long)],
      keyCol: String, probes: Seq[Long], mBits: Int, kHashes: Int): Seq[String] = {
    require(probes.nonEmpty, "no probe keys")
    import spark.implicits._
    val positions = probes.toDF(keyCol)
      .select(bloomPositions(keyCol, mBits, kHashes).as("__ps"))
      .collect().map(_.getSeq[Long](0))
    val byFile = manifest.groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    byFile.collect { case (f, words) if positions.exists(_.forall(p =>
      (words.getOrElse((p / 64).toInt, 0L) >> (p % 64).toInt & 1L) == 1L)) => f
    }.toSeq.sorted
  }

  /** Bucketed + sorted managed table (bucketBy requires saveAsTable).
    * A join between two tables bucketed on the same key with the same
    * bucket count plans with ZERO shuffle exchanges. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /**
   * One incremental state-publish step — the per-trigger/per-day body of
   * the CONTINUOUS daily merge (s2's stateful upsert composed with w3's
   * bucketed layout): fold a latest-state `delta` into the previous
   * bucketed state version and publish the result as the NEXT version
   * table (write-new-then-swap-pointer — a reader never sees a
   * half-written state, and the previous version stays queryable until
   * the pointer moves; the catalog-table version chain here is the
   * engine analog of the reference's transactional staging upsert).
   *
   * Scale invariant, ENFORCED at every step: the (bucketed) base is the
   * 100-TB side and must never re-shuffle — the step THROWS if any
   * bucketed scan sits below a shuffle exchange in the executed merge
   * plan. Only the trigger-sized delta may exchange (its latest-state
   * window shuffle doubles as the merge join's distribution — Spark
   * reuses the partitioning, so a step plans exactly one exchange).
   *
   * Returns the published version table, the next step's base.
   */
  def mergeStateVersion(spark: SparkSession, delta: DataFrame,
      prevTable: Option[String], nextTable: String, keyCol: String,
      payload: Seq[String], nBuckets: Int, path: String): DataFrame = {
    val merged = prevTable match {
      case None => delta
      case Some(prev) =>
        // the DELTA adopts the state's bucket layout before the merge:
        // without this, a session shuffle width different from nBuckets
        // makes EnsureRequirements align the join by re-shuffling the
        // BASE to the session width (the exact inversion this function
        // forbids — the guard below caught it at width 32 vs 8 buckets).
        // Repartitioning the trigger-sized delta is the cheap direction,
        // and is what a production merge does anyway: deltas conform to
        // the state table's layout, never the reverse.
        graft.operators.Upsert.merge(
          spark.table(prev).hint("merge"),
          delta.repartition(nBuckets, col(keyCol)).hint("merge"), keyCol, payload)
    }
    assertNoBucketedScanBelowShuffle(merged)
    spark.sql(s"DROP TABLE IF EXISTS $nextTable")
    merged.write.format("parquet").bucketBy(nBuckets, keyCol).sortBy(keyCol)
      .option("path", path).mode("overwrite").saveAsTable(nextTable)
    spark.table(nextTable)
  }

  /** THROW if any bucketed table scan sits below a shuffle exchange in
    * `df`'s physical plan — the [[mergeStateVersion]] invariant, also
    * unit-tested directly. Under AQE (the default) the executed plan is
    * an AdaptiveSparkPlanExec LEAF, which `collect` will not descend
    * into — inspect its `initialPlan` instead (the plan AFTER
    * EnsureRequirements inserted the exchanges but BEFORE any adaptive
    * re-optimization; `inputPlan` would be too early — it carries no
    * exchanges at all. AQE may later reuse or coalesce exchanges, but
    * never INSERTS a shuffle that was not in the initial plan, so "no
    * exchange above the bucketed scan" proven here holds for every
    * adaptively executed variant). */
  private[graft] def assertNoBucketedScanBelowShuffle(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val bucketedScanShuffled = plan
      .collect { case e: ShuffleExchangeLike => e }
      .exists(_.collectFirst {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.isDefined)
    if (bucketedScanShuffled)
      throw new IllegalStateException(
        s"state merge must never re-shuffle the bucketed base:\n$plan")
  }
}
