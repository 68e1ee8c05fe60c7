package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ManifestStore

/**
 * BUCKET-DELTA FRONTIER STATE — keyed streaming state as a manifest
 * chain (the round-15 verdict's prescription for the s22/s26/p8 seen
 * sets, which were full-state overwrites per trigger: at a billion-url
 * frontier with minute-cadence triggers an O(frontier) rewrite per
 * trigger is the dominant cost term, exactly the cost the s9 manifest
 * discipline exists to remove).
 *
 * The state lives as a [[ManifestStore]] partitioned by
 * `bucket = hash(key) % nBuckets`; version `v%05d(t)` is the state
 * AFTER trigger `t`. Per trigger:
 *
 *  - the trigger's contribution rows (already folded within the
 *    trigger) carry their derived bucket — w10's derivability
 *    contract: affected buckets are named by the trigger's own keys,
 *    never discovered by scanning state;
 *  - ONLY the affected buckets' prior rows are read back, folded with
 *    the contribution (the caller's associative merge — sum/min for
 *    occurrence counts, plain union for a set), and rewritten; every
 *    untouched bucket's files carry into the new manifest BY
 *    REFERENCE. [[ManifestStore.publishDeltaMerged]] THROWS if the
 *    write strays outside the affected buckets, so per-trigger write
 *    cost provably tracks the trigger's bucket spread, never the
 *    state size;
 *  - reads are bucket-pruned too: the anti-join a frontier exists for
 *    ("is this url new?") only needs the buckets the trigger's own
 *    keys hash into ([[ManifestStore.readVersionBuckets]]);
 *  - a replayed trigger id finds its version already committed and is
 *    a no-op (the s9 committed-retry rule); a trigger with an empty
 *    contribution publishes a metadata-only carry so version names
 *    stay aligned with trigger ids.
 *
 * At 100 TB: nBuckets scales with the frontier (thousands), a trigger
 * touches min(its distinct keys, nBuckets) buckets, and both the read
 * and the write are O(touched buckets) — the keyed-state shape, built
 * from the same immutable-file + manifest primitives as the corpus
 * store, so w13-style time travel over frontier history and vacuum of
 * superseded bucket files come for free.
 */
object FrontierState {

  /** Version name for the state AFTER trigger `t` (zero-padded so the
    * manifest chain sorts in publish order). */
  def version(t: Long): String = f"v$t%05d"

  /** The derived bucket of a key — a pure row expression (w10's
    * derivability contract), so a trigger can name its affected
    * buckets without reading any state. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    floor(graft.operators.Curate.hashFraction(key) * nBuckets).cast("long")

  /** Full state after trigger `t` (serving reads). */
  def read(spark: SparkSession, root: String, afterTrigger: Long,
      schema: String): DataFrame =
    ManifestStore.readVersion(spark, root, version(afterTrigger), schema)

  /** Bucket-pruned state read (the anti-join path). */
  def readBuckets(spark: SparkSession, root: String, v: String,
      schema: String, buckets: Set[Long]): DataFrame =
    ManifestStore.readVersionBuckets(spark, root, v, schema, "bucket", buckets)

  /**
   * Fold trigger `batchId`'s contribution into the chain. `contrib`
   * rows must already carry their `bucket` column and be folded within
   * the trigger (one row per key). `fold(base, contrib)` merges the
   * affected buckets' prior rows with the contribution into those
   * buckets' complete new content — it must be the associative fold
   * whose trigger-order chain equals the one-shot batch build (the s5
   * discipline). `affected` is exactly the set of `contrib`'s buckets;
   * callers take it from the job that stages `contrib`
   * ([[graft.util.Side.distinct]]), so no collect re-derives it. `base`
   * may be passed pre-read when the caller already fetched the affected
   * buckets for its own anti-join; it must then be exactly the prior
   * head's rows in `contrib`'s buckets.
   */
  def foldPublish(root: String, batchId: Long, contrib: DataFrame,
      schema: String, affected: Set[Long], base: Option[DataFrame] = None)
      (fold: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = contrib.sparkSession
    val v = version(batchId)
    val versions = ManifestStore.listVersions(spark, root)
    if (versions.contains(v)) return // committed by a prior attempt
    // The affected set doubles as the empty-contribution signal (no
    // buckets touched → carry) and is passed through to the publish gate.
    // The pre-write repartition(bucket) keeps one file per touched
    // bucket per version — without it every shuffle partition writes
    // its own sliver into every bucket dir it holds rows for (measured
    // 3.9x on s22's trigger loop at sf0.1 from tiny-file explosion
    // alone); at scale AQE sizes the shuffle so a hot bucket still
    // splits across tasks by bytes.
    if (versions.isEmpty) {
      require(batchId == 0,
        s"trigger $batchId arrived before any state was initialized")
      ManifestStore.publishInitial(spark,
        contrib.repartition(col("bucket")), root, v, "bucket")
    } else {
      val prevV = version(batchId - 1)
      if (affected.isEmpty) ManifestStore.publishCarry(spark, root, prevV, v)
      else {
        val b = base.getOrElse(readBuckets(spark, root, prevV, schema, affected))
        ManifestStore.publishDeltaMerged(
          spark, fold(b, contrib).repartition(col("bucket")), root, prevV, v,
          "bucket", Some(affected.map(_.asInstanceOf[Any])))
      }
    }
  }
}
