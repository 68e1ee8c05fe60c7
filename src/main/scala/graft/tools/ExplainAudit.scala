package graft.tools

import graft.Sessions

/**
 * Dev-only plan auditor (not part of the engine): prints a physical-plan
 * summary per catalog query and flags the anti-patterns the scale design
 * forbids — BroadcastNestedLoopJoin / CartesianProduct anywhere except the
 * one justified broadcast cross join in ANN brute force, and missing
 * pushed filters on filtered scans.
 */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Sessions.local("4")
    // l5 intentionally broadcast-cross-joins the tiny query set against the
    // corpus scan (non-equi self-exclusion makes it a BroadcastNestedLoop).
    // l8's IVF build scores corpus x broadcast(centroids) the same way —
    // the n*C assignment scan is inherent to coarse quantization; l9 runs
    // the identical assignment inside each Lloyd training round too.
    // w4 runs l8's SEARCH half over the partitioned store — the same
    // query-side x broadcast(centroids) probe ranking (tiny x tiny).
    // l12 is l8's BUILD (Ann.assignCells: corpus x broadcast one-row
    // centroid array) reused for curation — same justified shape; w6/w7
    // run that same build inline (append/compaction lifecycle) before
    // the w4-style partitioned search. l13 composes the same build with
    // the PQ encode (corpus x broadcast one-row codebook array — the
    // same n*C fold per subspace) and the probe ranking; s6 is w6's
    // append driven through the streaming body (same inline assignCells)
    // ahead of the w4-style search; w15 is the same build + w4-style
    // search again, over the post-purge store.
    // l17 is the same Ann.assignCells build (corpus x broadcast one-row
    // centroid array) feeding the quota cut — same justified shape.
    // l18 encodes/dequantizes corpus x broadcast ONE-ROW quantizer arrays
    // and then runs l5's intended broadcast (dequantized corpus x tiny
    // query set, non-equi self-exclusion) — both justified shapes.
    // q6's exact leg and l19's dense leg ARE l5 (the audit compares /
    // fuses against the brute-force ground truth, so they inherit its
    // intended broadcast; both other legs are equi-joins).
    // l20 is the same Ann.assignCells build (corpus x broadcast one-row
    // centroid array, Lloyd rounds included) ahead of an EQUI cell
    // self-join — the flagged nested-loop is the assignment fold only.
    // t15 intentionally broadcast-cross-joins the (small by nature)
    // benchmark set against the corpus scan — l5's shape with a
    // threshold instead of top-k. t16/s17 fold a ONE-ROW broadcast total
    // (corpus token count, = Σ unigram counts) into the scored bigrams —
    // the centroid-array fold shape (s17 serves the same scorer off the
    // folded dictionary).
    val crossJoinOk = Set("l5_ann_bruteforce", "l8_ann_ivf", "l9_ann_ivf_trained",
      "t15_semantic_decontam", "t16_collocations", "s17_stream_colloc",
      "w4_ann_partitioned", "l12_semantic_dedup", "w6_ann_append", "w7_compaction",
      "l13_ann_ivfpq", "s6_stream_ann_ingest", "w8_ann_pq_store",
      "l14_ann_ivfpq_refined", "w9_ann_refined_store", "w15_ann_delete",
      "l17_diversity_sample", "l18_ann_sq8", "q6_ann_recall_audit",
      "l19_hybrid_rrf", "l20_knn_join")
    // A Window with NO partitionBy funnels every row through one task —
    // a single-machine bottleneck at scale unless the input is provably
    // row-bounded by the time it reaches the window. Whitelist = the
    // entries whose unpartitioned window runs over coordinator-scale
    // rows by construction (each rationale names the bound). Audited
    // over the returned frame's optimized plan; eagerly-executed
    // sub-plans inside an entry's construction are out of this audit's
    // scope (the same limitation the exch/bhj counts carry). The r13
    // audit sweep found exactly two catalog entries with a global
    // window — both the growth-accounting day ledger; everything else
    // (r7's sketch walk, a15's attribution pieces, the c7/c8/c10
    // prefix-sum) either partitions its windows or cumulates inside an
    // eager coordinator step over config-bounded rows.
    val globalWindowOk = Map(
      // the growth ledger finish orders ONE ROW PER DAY (the groupBy
      // day precedes it) — calendar-bounded however large events gets.
      "a16_growth_accounting" -> "per-day ledger (calendar-bounded)",
      "s23_stream_growth" -> "per-day ledger (calendar-bounded)")
    graft.queries.Catalog.all.foreach { q =>
      try {
        val df = q.run(spark, d)
        // NOTE: with AQE on this is the INITIAL plan — exchange-reuse and
        // codegen stages are not yet collapsed; read exch as an upper bound.
        val plan = df.queryExecution.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).size
        // unpartitioned windows are detected on the OPTIMIZED LOGICAL plan
        // (structural partitionSpec check — the physical string is
        // ambiguous about which windowspecdefinition args are partition
        // keys vs order keys)
        val globalWindows = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size
        val flags = Seq(
          (n("BroadcastNestedLoopJoin") > 0 && !crossJoinOk(q.name)) -> "NESTED-LOOP-JOIN",
          (n("CartesianProduct") > 0) -> "CARTESIAN",
          (globalWindows > 0 && !globalWindowOk.contains(q.name)) -> "UNPARTITIONED-WINDOW",
        ).collect { case (true, f) => f }
        val stats = f"exch=${n("ShuffleExchange|Exchange hashpartitioning")}%d " +
          f"bhj=${n("BroadcastHashJoin")}%d smj=${n("SortMergeJoin")}%d " +
          f"pushed=${n("PushedFilters: \\[[^\\]]")}%d gwin=$globalWindows%d"
        val flagStr = if (flags.isEmpty) "" else flags.mkString("  !! ", " ", "")
        println(f"${q.name}%-22s $stats$flagStr")
      } catch { case e: Throwable => println(f"${q.name}%-22s ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
