package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming ingest for the IVF vector store — the ANN lifecycle's one
 * remaining batch-only seam closed: w6's daily append driven from a
 * stream. Each trigger's vectors are assigned with the FROZEN coarse
 * quantizer (the build-time centroids — a streaming ingest must never
 * retrain, or the existing cells' assignments silently drift from the
 * index) and APPENDED under the existing cell= directories, so the
 * store stays DPP-searchable between triggers with no index rewrite.
 *
 * The foreachBatch body is a named function shared by three drivers —
 * the real stream below, the s6 catalog twin (time-sliced batches fold
 * through the SAME body, gated by l8's oracle + the DPP throw), and
 * StreamingSpec (MemoryStream, per-trigger search parity against a
 * batch-computed store) — the s5 discipline: one body, every path
 * proves it.
 *
 * Compaction pressure from many small trigger appends is exactly what
 * w7's size-budgeted Sink.compactPartitioned exists for; run it on a
 * schedule against streamed stores.
 */
object VectorStream {

  /** The foreachBatch body: assign the trigger's (vec_id, embedding)
    * rows with the frozen `centroids` and append under `path`'s cell=
    * dirs. Cheap narrow plan per trigger (broadcast argmin + one
    * partitioned write; the two-phase exact-decimal assignment keeps
    * streamed rows bit-identical to a batch build of the same data). */
  def ivfAppendBatch(centroids: DataFrame, path: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.Ann.assignCells(batch, centroids)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Start the streaming ingest: `stream` must carry (vec_id BIGINT,
    * embedding ARRAY<FLOAT>). */
  def appendStream(stream: DataFrame, centroids: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .foreachBatch(ivfAppendBatch(centroids, path) _)
      .option("checkpointLocation", checkpoint)
      .start()

  /**
   * foreachBatch body of the STREAMING embedding-drift monitor (catalog
   * s18 — q7's live twin, the s7 histogram-fold discipline on vector
   * state): each trigger's embeddings contract to per-dimension cells
   * (dim, exact DECIMAL value sum, count —
   * [[graft.operators.Checks.embeddingCells]], the SAME builder the
   * batch monitor's fused scan reduces to) and fold into an
   * overwrite-versioned parquet state at `statePath/v{batchId+1}`.
   * Decimal sums and counts are associative and exact, so any trigger
   * slicing converges on the one-shot cells bit for bit (a
   * [[VersionedState]] fold). State is dim rows regardless of trigger
   * volume — the fold is metadata-sized at any corpus scale.
   */
  def embeddingCellsFoldBatch(statePath: String)(
      batch: DataFrame, batchId: Long): Unit =
    cellsState.sumFold(statePath, batchId, graft.operators.Checks.embeddingCells(
      batch, "embedding", "_sc", "n_cur"), Seq("dim"), Seq("_sc", "n_cur"))

  /** Schema of the folded drift state — decimal sums stay decimal on
    * disk (parquet DECIMAL(38,20)); re-inferring as double would forfeit
    * the exact-fold guarantee. */
  val cellsStateSchema = "dim INT, _sc DECIMAL(38,20), n_cur BIGINT"
  val cellsState = VersionedState("v", cellsStateSchema)
}
