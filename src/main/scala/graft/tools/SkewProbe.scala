package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * Dev-only adversarial HOT-KEY probe — the second scale axis next to
 * [[ScaleProbe]]'s duplicate-heavy growth: remap `SPARK_GRAFT_SKEW_PCT`
 * percent (default 30) of all event rows onto ONE user id, the classic
 * power-law key a 100-TB event log always contains, and re-time every
 * key-partitioned operator (salted join, sessionization, upsert,
 * sequences, as-of and range joins, the stateful-upsert batch twin).
 * Row count is UNCHANGED — only the key distribution moves — so a ratio
 * near 1 means the operator's shuffle/window shape absorbs the hot key
 * (AQE skew splits, salting, binning); a large ratio is a straggler the
 * skew machinery failed to spread.
 *
 * The skewed copy keeps the testdata's TIMESTAMP(NANOS) contract by
 * writing `ts` as epoch-nano BIGINT (what Tables.events' nanosAsLong
 * read path expects — a plain timestamp rewrite would break its
 * `ts div 1000` conversion). Session from [[graft.Sessions]], shared with
 * ScaleProbe and Bench; timing protocol from [[ProbeHarness]]; probe list
 * overridable via SPARK_GRAFT_SKEW_PROBES
 * (its OWN env var — sharing ScaleProbe's would cross-wire the tools).
 */
object SkewProbe {
  private val DefaultProbes = Seq("j3_salted_join", "a6_sessionize",
    "d2_upsert_merge", "c4_event_sequence", "j1_asof_join",
    "j2_range_join", "s2_stream_upsert", "w7_compaction",
    "c6_quota_sample", "c7_token_budget",
    // round-9 continuation: the CDC collapse (window) and its stateful
    // streaming twin (mapGroupsWithState) both partition by user_id —
    // the hot key funnels 30% of the log into one group on each
    "d6_cdc_apply", "s8_stream_cdc",
    // MERGE INTO: both state windows and the full-outer join partition
    // by user_id; the hot key rides one group per side + one join row
    "d7_merge_into",
    // round-9 continuation 2: the WAP trigger fold (30% of rows on one
    // user concentrates that bucket's rewrites and its audit diff),
    // the histogram sketch and temperature cut under the
    // 90%-one-stratum document skew (cell-bounded state vs one giant
    // window partition — the c6/c7 caveat, measured)
    "s11_stream_wap", "r7_quantile_sketch", "c8_temperature_mix",
    // round-9 continuation 3: sliding distinct (the hot user's 30% of
    // rows collapse at the per-day distinct — amplification stays the
    // constant w) and the overlap join (one user owns 30% of view AND
    // purchase events: giant merged sessions, the per-(key, bin) equi
    // join must keep the pair space bounded)
    "a11_sliding_distinct", "j5_overlap_join",
    // the funnel folds (plain and windowed) sort-collect one array per
    // key: the hot user's 30% of the log becomes ONE ~180k-element
    // array in one task — the fold is linear and the state nSteps
    // longs, but the sort-collect is the axis to watch; r8's exact
    // path flags per user on the same exchange
    "a9_funnel", "a12_windowed_funnel", "r8_set_overlap",
    // round-9 continuation 5: golden record under the hot-CLUSTER
    // customer fixture (30% of customers share one name -> one mega
    // cluster; survivorship is mergeable min/max aggregates, so the hot
    // cluster must cost a partial-aggregate merge, not a one-task
    // sort), epoch expansion under the 90%-one-stratum document skew
    // (one giant source rides the same cumsum window as c7, and its
    // replication explode is bounded by the recipe multiplier), and
    // gap-fill under the hot event user (30% of events collapse into
    // one user's daily aggregate; the span explode stays grid-sized)
    "e6_golden_record", "c10_epoch_expand", "a13_gapfill",
    // the stateful gap-fill twin: the hot user's 30% of events still
    // collapse at the daily aggregate; its per-key state stays 2 fields
    "s15_stream_gapfill",
    // round-10: the graph family under the hot-hub lineitem fixture
    // (g1/g2; g4 shares g1's shape) and the event-user skew (g3/s16:
    // the hot user joins 30% of cells — the membership cap bounds each
    // cell's pairs and orientation keeps the hub off wedge apexes)
    "g1_pagerank", "g2_seed_distance", "g3_triangle_count",
    "s16_stream_graph",
    // round-10 continuation: attribution partitions BOTH windows by the
    // user — the hot user funnels 30% of touches+conversions into one
    // assignment window and its per-journey pairs (journeys stay
    // activity-bounded in production; this measures the worst case);
    // q9's hot user multiplies n_rows of the classes it lands in but
    // distinct-count partials stay class-sized; g8 peels under the
    // hot-hub purchase graph (one supplier in 30% of lines — degree
    // aggregates are partial-combinable, the semi-joins equi)
    "a15_attribution", "q9_k_anonymity", "g8_kcore",
    // round-11: the CAS/rebase path under the hot event user — 30% of
    // events collapse into user 7's latestState window group AND its
    // bucket's rewrite (stage, rebase, re-stage all funnel through the
    // one hot bucket); the dedup-family entries (l21/l22/q8) are NOT
    // here by design — their skew axis is duplicate CONTENT, which is
    // ScaleProbe's ×8 salted fixture, not an event/customer key remap
    "w23_concurrent_commit")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val pct = sys.env.getOrElse("SPARK_GRAFT_SKEW_PCT", "30").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val probes = ProbeHarness.probesFrom("SPARK_GRAFT_SKEW_PROBES", DefaultProbes)
    val spark = graft.Sessions.local(cpus)

    val out = graft.util.Scratch.deleteOnExit(
      s"/tmp/graft_skew_probe/${java.util.UUID.randomUUID.toString.take(8)}")
    // deterministic remap: md5-fraction of the event id picks the moved
    // rows, so the same rows move on every run; the hot key is a REAL
    // key (user 7) so dim joins still match
    val ev = Tables.events(spark, sfDir)
    val frac = graft.operators.Curate.hashFraction(
      concat(col("event_id").cast("string"), lit("|skew")))
    ev.withColumn("user_id",
        when(frac < pct / 100.0, lit(7L)).otherwise(col("user_id")))
      .withColumn("ts", (unix_micros(col("ts")) * 1000L).as("ts")) // nanos long
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // customer (j3's dim side; e6's cluster source): keys untouched, but
    // the same pct of customer NAMES remap onto customer 7's name — the
    // mega-brand alias pile that turns one e6 cluster giant while every
    // key-join still matches
    val cust = Tables.customer(spark, sfDir)
    val hotName = cust.filter(col("c_custkey") === 7)
      .select("c_name").head().getString(0)
    val cfrac = graft.operators.Curate.hashFraction(
      concat(col("c_custkey").cast("string"), lit("|nameskew")))
    cust.withColumn("c_name",
        when(cfrac < pct / 100.0 && col("c_custkey") =!= 7, lit(hotName))
          .otherwise(col("c_name")))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // hot-CELL variant for the IVF lifecycle: the same pct of vectors is
    // remapped onto vec_id 0's embedding, so they all quantize to ONE
    // cell — w7's size-budgeted compaction must absorb the hot cell
    // (several bounded files via its salt groups, gates still passing);
    // under the old one-file-per-cell invariant this probe was the
    // straggler: 30% of the store through one write task into one file
    val emb = Tables.embeddings(spark, sfDir)
    val hotVec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val efrac = graft.operators.Curate.hashFraction(
      concat(col("vec_id").cast("string"), lit("|cellskew")))
    emb.withColumn("embedding",
        when(efrac < pct / 100.0 && col("vec_id") =!= 0, typedlit(hotVec))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // giant-STRATUM variant for the sampling family: 90% of documents
    // remapped onto ONE source. c6's window path funnels each stratum
    // to one task (the documented spill-budget scope — quotaSample's
    // heapThreshold is the scale path, spec-proven selection-identical);
    // c7's per-source cumsum has the same shape. The probe makes the
    // funnel measurable instead of prose.
    val docs = Tables.documents(spark, sfDir)
    val dfrac = graft.operators.Curate.hashFraction(
      concat(col("doc_id").cast("string"), lit("|stratskew")))
    docs.withColumn("source",
        when(dfrac < 0.9, lit("src0")).otherwise(col("source")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    // hot-HUB variant for the graph family: the same pct of lineitem
    // rows remap onto ONE supplier — a hub node carrying pct% of all
    // purchase edges (the power-law site every web graph contains).
    // PageRank's per-round dst aggregation is a mergeable partial sum
    // (the hub costs a combine, not a one-task funnel) and the rank
    // join's hub partition is the axis this row watches; BFS reaches
    // the hub in one hop and must not straggle on its adjacency; the
    // triangle probe rides the EVENT skew instead (user 7 in 30% of
    // cells), where the degree-ordered orientation keeps the hub off
    // every wedge apex.
    val li = Tables.lineitem(spark, sfDir)
    val lfrac = graft.operators.Curate.hashFraction(concat(
      col("l_orderkey").cast("string"), lit("#"),
      col("l_linenumber").cast("string"), lit("|hubskew")))
    li.withColumn("l_suppkey",
        when(lfrac < pct / 100.0, lit(7L)).otherwise(col("l_suppkey")))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Tables.orders(spark, sfDir)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    println(f"| query | $sfDir | hot-key ($pct%% on one user) | ratio |")
    println("|---|---|---|---|")
    probes.foreach { name =>
      val base = ProbeHarness.medianTime(spark, name, sfDir, reps)
      val big = ProbeHarness.medianTime(spark, name, out, reps)
      println(f"| $name | $base%.2f s | $big%.2f s | ${big / base}%.1fx |")
    }
    spark.stop()
  }
}
