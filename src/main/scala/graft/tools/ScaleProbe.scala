package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/**
 * Dev-only synthetic scale probe for the dedup/fuzzy family (the VERDICT
 * r6 ask): no sf1 testdata exists, so extend the measured decade by
 * self-unioning the corpus ×`SPARK_GRAFT_SCALE_MULT` (default 8) with
 * RE-SALTED ids but UNCHANGED text — the adversarial duplicate-heavy
 * growth case, where every LSH/fuzzy bucket inflates by the multiple and
 * candidate pairs within a bucket grow QUADRATICALLY unless the bucket
 * caps and skew guards hold. A sub-multiple runtime ratio here means the
 * caps work; a super-multiple ratio is the scale bug this tool exists to
 * catch.
 *
 * Session from [[graft.Sessions]], shared with SkewProbe and Bench;
 * timing protocol from [[ProbeHarness]] (untimed warm-up, median of
 * SPARK_GRAFT_REPS=3, cleanup outside the timers); baseline and ×N
 * runs share one JVM so JIT state is comparable. Probe list overridable
 * via SPARK_GRAFT_PROBES. Results are hand-recorded in BENCH_NOTES.md.
 */
object ScaleProbe {
  private val DefaultProbes = Seq("l1_dedup_minhash", "l2_dedup_simhash",
    "l3_ngram_jaccard", "e4_fuzzy_match",
    // round-8 additions: every >1s entry of the new families — cross-
    // corpus dedup, span dedup, semantic dedup, decontamination, the
    // multi-probe LSH search (its candidate volume grows with bucket
    // population, the same hazard class), the components resolver (edge
    // list grows ~120x under the clique inflation) and the end-to-end
    // curation pipeline (exact dedup must collapse the salted copies)
    "l6_ann_lsh", "l10_cross_dedup", "l11_span_dedup",
    "l12_semantic_dedup", "t9_decontaminate",
    "l7_dedup_components", "c3_curation_pipeline",
    // round-9 additions: the PQ tier (train/encode scale with the ×8
    // corpus; the codes store and its compaction inherit ×8 files/rows
    // per cell — exactly the small-file pressure w7 exists to absorb)
    "l13_ann_ivfpq", "w8_ann_pq_store", "w7_compaction",
    // round-9 continuation: the store-lifecycle and monitoring entries —
    // the purge's rewrite set, the z-order stats pass, and the drift
    // histogram all grow linearly with the corpus; the probe pins it
    "w10_delete_log", "w11_zorder_skip", "q3_drift", "s7_stream_drift",
    "w12_zorder_maintain", "w13_time_travel",
    // round-9 continuation: incremental CC (its day-1 resolve + star
    // contraction + new-touching candidates all ride the ×8 name
    // inflation — the same quadratic-bucket hazard class as l7), the
    // CDC collapse and its sketch sibling (linear windows/folds over
    // ×8 events — pinned so a regression shows as a ratio, not prose)
    "l16_incremental_components", "d6_cdc_apply", "r5_distinct_sketch",
    // the end-to-end curation chain (every stage rides the ×8 corpus;
    // the salted copies are exact dups, so the dedup stage must collapse
    // them before the gram join and budget window) and the vector-store
    // delete (×8 rows per cell in both the purge rewrite and the index)
    "p4_llm_corpus", "w15_ann_delete",
    // round-9 continuation: MERGE INTO (two ×8 state windows + the key
    // join), the DV delete lifecycle (×8 rows per bucket in the DV
    // build, overlay and fold) and the bloom layout (×8 keys per file —
    // exactly the saturation axis the count-adaptive sizing absorbs)
    "d7_merge_into", "w19_deletion_vectors", "w20_bloom_skip",
    // streaming DV deletes: three pruned DV builds + the overlay ride
    // the ×8 store
    "s10_stream_delete",
    // round-9 continuation 2: WAP cycles (×8 rows through stage + the
    // manifest-diff audit, batch and trigger form), the histogram
    // sketch (×8 rows into the SAME cell set — state must not grow),
    // LM scoring (×8 docs through the narrow fold + ×8 training
    // pairs into the same tiny model) and the temperature cut (×8
    // tokens per source move every budget and the cumsum windows)
    "w21_wap_branch", "s11_stream_wap", "r7_quantile_sketch",
    "t11_lm_score", "c8_temperature_mix",
    // diversity sampling: ×8 identical vectors per cell — the quota
    // bounds every window partition's OUTPUT but the argmin + window
    // INPUT rides the full ×8
    "l17_diversity_sample",
    // round-9 continuation 3: SQ8 (train aggregate, narrow encode and
    // the candidate side all ride the ×8 corpus; the kSq buffer and
    // refine stay query-sized), the sliding-distinct rewrite (×8
    // events collapse at the FIRST distinct — the pre-explode order
    // the operator exists for) and the overlap join (×8 events per
    // unchanged session set: sessionize absorbs the growth, the pair
    // space must not)
    "l18_ann_sq8", "a11_sliding_distinct", "j5_overlap_join",
    // windowed funnel (×8 events per key fold) and the sketch-algebra
    // entry (×8 rows into the same |types|·|days| sketch cells — state
    // must not grow; the exact flags table rides the ×8 user axis)
    "a12_windowed_funnel", "r8_set_overlap",
    // round-9 continuation 4: retrieval (×8 docs inflate the posting
    // build and every query term's matched-posting set — the scoring
    // shuffle must track matches, not corpus), its incrementally-
    // maintained twin (×8 through three segment appends + dictionary
    // folds), phash media dedup (×8 salted payloads per 8-bit bucket —
    // the pigeonhole join's quadratic-bucket hazard class) and the
    // leakage split (×8 minhash edges + CC rounds over ×8 nodes)
    "t13_bm25_search", "s13_stream_index", "m4_phash_neardup",
    "c9_leakage_split",
    // keyphrases (×8 postings through the df join + per-doc windows) and
    // the fusion/audit entries (their exact leg rides the ×8 corpus
    // through l5's broadcast cross; fusion/join stages stay queries×k)
    "t14_keyphrases", "l19_hybrid_rrf", "q6_ann_recall_audit",
    // round-9 continuation 5: index compaction (×8 postings through the
    // range repartition + the disjointness stats pass), its mid-stream
    // twin (×8 through four appends, the cut fold and the split-brain
    // read) and gap-fill (×8 events collapse at the daily groupBy —
    // the grid output is user-days, so ×8 salted users grow it
    // linearly, never quadratically)
    "w22_index_compaction", "s14_stream_compaction", "a13_gapfill",
    // golden record: ×8 customers = ×8 clusters; survivorship is one
    // mergeable-aggregate shuffle, so growth must stay linear
    "e6_golden_record",
    // epoch expansion: ×8 docs move every source total and budget in
    // lockstep (rational multipliers are scale-free), so epoch counts
    // are unchanged and the output grows linearly with the corpus
    "c10_epoch_expand",
    // streaming gap-fill twin: ×8 events fold into the same per-user
    // day set before the stateful pass; output is grid-sized
    "s15_stream_gapfill",
    // kNN self-join: ×8 identical vectors per cell — the Σ cell² pair
    // hazard class (l12's) with no threshold to cull by; C is data-
    // adaptive (ceil(sqrt n)) so the expected ratio is the n^1.5 law
    // (~5.5× measured at ×8, vs ~21× when C was fixed — BENCH_NOTES);
    // still the probe list's costliest row (~1 min at ×8)
    "l20_knn_join",
    // round-10: the graph family. g1 rides 8 DISJOINT graph replicas
    // (lineitem/orders salted on key+partner columns): ×8 edges, ×8
    // nodes, same iteration count — the per-round joins must grow
    // linearly (g4/g2 share g1's plan shapes and are skipped). g3/s16
    // ride ×8 RAW events that collapse at the first distinct — the
    // graph is UNCHANGED, so the ratio isolates the scan/fold cost
    // (s16's per-cell state must stay <= cap regardless of row count).
    // t15: ×8 corpus AND ~×8 benchmark (vec_id salting preserves the
    // % 97 rule) -> ×64 pair space through the cheap-filter prune — the
    // broadcast-cross hazard axis pinned.
    "g1_pagerank", "g3_triangle_count", "s16_stream_graph",
    "t15_semantic_decontam",
    // l21 rides the ×8 salted duplicate corpus through minhash + CC +
    // the survivor window (the l7/c9 hazard class: clusters inflate to
    // 16 members each); t16's counts all scale ×8 so every lift value
    // is INVARIANT (c(xy)·N / c(x)·c(y) — the ×8s cancel) and cost must
    // stay linear; g5's ×8 raw events collapse at the first distinct
    "l21_cluster_survivor", "t16_collocations", "g5_link_predict",
    // l22: the ×8 salted corpus pushes content-shingle df from 2 to 16 —
    // just UNDER the cap of 20, so candidate pairs inflate ~C(16,2)/1 =
    // ×120 per shingle group (the adversarial just-below-the-guard case)
    "l22_containment_dedup",
    // s17: ×8 docs fold through three dictionary versions — counts are
    // ×8 but the dictionary (vocab²) is UNCHANGED, so fold cost must
    // stay dictionary-sized and the serve step constant
    "s17_stream_colloc",
    // round-10 continuation: q7/s18 fold ×8 vectors into the SAME 64
    // dimension cells (state dim-sized regardless of corpus; the salt
    // rotates vec_id%3 slice membership per copy, but both slices keep
    // identical vector distributions, so the planted-dims gate holds);
    // q8 is the adversarial Σ bucket² axis ON PURPOSE — the salt
    // preserves panel membership (1e8 ≡ 0 mod 5 and mod 1e6), so 8
    // identical copies of every panel doc inflate true pairs ~×64
    // through the inverted index (the audit's documented panel-size
    // knob, l12's hazard class); q9 rides ×8 events into the same
    // class set (n_rows ×8, n_sensitive unchanged — the l-risk leg
    // keeps the fixture gate alive); a15 rides ×8 copies of every
    // touch AND conversion through both windows (journeys widen, user
    // count unchanged — the window-partition axis); g8 peels 8
    // disjoint purchase-graph replicas (×8 edges, same rounds — the
    // per-round degree aggregate + semi-joins must grow linearly)
    "q7_embedding_drift", "s18_stream_embedding_drift",
    "q8_dedup_recall_audit", "q9_k_anonymity", "a15_attribution",
    "g8_kcore",
    // round-10 continuation 2: s19 folds ×8 touches AND conversions per
    // user through the stateful pass (journeys widen ×8, state stays
    // pending-sized); s20 folds ×8 rows into check-sized scalar state
    // plus ×8 event_id key cells (the documented key-sized leg — cost
    // must track keys, not rows²); w23 stages/rebases ×8 rows per
    // bucket through the three-commit dance; c13's per-modality cumsum
    // rides ×8 docs through the prefix-sum buckets (c7's shape)
    "s19_stream_attribution", "s20_stream_quality",
    "w23_concurrent_commit", "c13_modality_mix",
    // j6 rides ×8 labels AND ×8 feature states per user through both
    // union-merge windows (the j1 shape, twice) plus the rank window;
    // g9 aggregates 8 disjoint graph replicas (×8 edges and nodes, same
    // layer count — per-layer join + mean must grow linearly)
    "j6_pit_features", "g9_neighbor_agg",
    // round-11: t17's ×8 corpus folds into the SAME capped dictionary
    // (word counts ×8, top-256 set unchanged up to count scaling — the
    // merge rounds must stay dictionary-sized); g10 walks 8 disjoint
    // graph replicas → 8× walks, linear per-step frontier joins
    "t17_bpe_train", "g10_random_walks",
    // t18: train is dictionary-bounded (t17's row) and apply is
    // map-only — the ×8 corpus must cost ~linear scan time
    "t18_bpe_tokenize",
    // g11: ×8 disjoint replicas → ×8 walks → ×8 pairs; the walk_id
    // self-join must stay per-walk-bounded (linear, like g10's row)
    "g11_skipgram_pairs",
    // w24 is scan-bound write+read; q10 is two dictionary-bounded
    // trainings (t17's scale-invariance band)
    "w24_csv_roundtrip", "q10_tokenizer_drift",
    // s21: three dictionary folds + one training — state stays
    // vocabulary-sized under any corpus multiple (the s17 band)
    "s21_stream_bpe",
    // round-12: t19 folds the ×8 corpus through a map-only projection
    // + the t17 word-count shuffle twice (folded and base legs) into
    // the SAME vocabulary — cost must stay linear-scan, the join
    // dictionary-sized; t20 is one codegen'd projection + a ~20-group
    // rollup (domain set unchanged under the salt) — pure scan growth
    "t19_unicode_fold", "t20_url_canonicalize",
    // w25 folds ×8 events per bucket through the three-publish chain,
    // then rolls back + vacuums — manifest/ref ops are metadata-sized
    // regardless of corpus (the w23 band); w26 writes/reads ×8 rows
    // through the two-era store (salted keys stay under Int.MaxValue
    // so the int era still fits its physical type) — scan-bound
    "w25_rollback", "w26_type_widening",
    // s22: ×8 docs fold through three frontier versions; the salt
    // multiplies OCCURRENCES of the same canonical urls (doc_id%20
    // paths recur), so state stays near the base frontier size while
    // counts grow — the fold must track frontier, not corpus
    "s22_stream_frontier",
    // a16: ×8 salted users ride the distinct + per-user lag window —
    // day-set per user unchanged, so the ledger grows only in counts;
    // g12 aggregates 8 disjoint purchase-graph replicas (×8 edges and
    // nodes, same rounds — per-round join + max + floor must grow
    // linearly, the g1 band); w27 is a scan-bound two-era write+read
    "a16_growth_accounting", "g12_hits", "w27_column_rename",
    // s23: ×8 users fold through three day-sliced triggers — state is
    // user-sized, the ledger day-sized; cost must track trigger rows
    "s23_stream_growth",
    // p6: every stage rides the ×8 corpus — the url collapse must
    // absorb the ×8 occurrences of each canonical url (the s22 axis)
    // before the fold/gate/budget stages touch text
    "p6_crawl_corpus",
    // round-13: a17 rides ×8 salted users through the per-user window
    // and the (cohort, offset) cells (cohorts ×8 in membership, offset
    // set unchanged — both windows must grow linearly); d8 pushes ×8
    // orders through BOTH SCD2 chains, the three identity-join diff and
    // the exceptAll audit legs — everything is dim-keyed, so linear;
    // t21 is a ten-regexp map-only projection (pure scan growth); p7
    // rides the ×8 corpus through all three gates — the frontier
    // absorbs the ×8 url occurrences (s22's axis) BEFORE banding, and
    // crossDedup's pair space is per-side-capped (l10's axis); s24
    // folds ×8 lineitem rows into the SAME single moment row (state
    // flat by construction — cost must track the scan); r9 is the
    // single-row-exchange ideal and must stay scan-bound
    "a17_cohort_ltv", "d8_bitemporal_dim", "t21_html_extract",
    "p7_corpus_refresh", "s24_stream_correlation", "r9_correlation",
    // round-14: m6 encodes+decodes ×8 test cards through the real PNG
    // codec — pure map-only, so cost must track the doc count and
    // nothing else (the salt shifts ids, so dims/pixel sums change per
    // copy but stay closed-form); p8 rides the ×8 corpus through all
    // four stages per trigger — the frontier absorbs the ×8 url
    // occurrences (s22's axis) before the fold/gate/publish stages,
    // and the per-trigger publish is kept-doc-sized
    "m6_image_decode", "p8_stream_corpus",
    // e8 is a map-only parse + a broadcast range lookup against a
    // 3-currency dim — pure scan growth, the fact side never shuffles;
    // s25 folds ×8 users through three ts slices (state stays ≤ one
    // open session per user — ×8 users means ×8 state, never ×8²);
    // m7 explodes ×8 docs into frames + a per-doc lag window
    // (doc-cardinality partitions — linear)
    "e8_fx_normalize", "s25_stream_session", "m7_keyframe_select",
    // round-15: m8 encodes+decodes ×8 test tones through the real WAV
    // codec — m6's band: pure map-only, cost must track doc count;
    // s26 rides the ×8 corpus through the trigger-cadence admission
    // funnel — the frontier absorbs ×8 url occurrences before banding
    // and crossDedup's pair space is per-side-capped (p7's axis, at
    // trigger cadence); c14's training aggregates ×8 labeled rows per
    // round into the same 5-long gradient (state flat) and scoring is
    // map-only — both must stay linear-scan
    "m8_audio_decode", "s26_stream_admission", "c14_quality_classifier",
    // q11 re-runs c14's training then one agg over ×8 held-out rows —
    // the c14 band; l23 rides the ×8 salted duplicate corpus through
    // ONE banding + verification pass and sweeps thresholds as filters
    // over the verified pairs (the l1 hazard class — candidate pairs
    // inflate with bucket population, the sweep must not multiply it)
    "q11_model_eval", "l23_threshold_sweep",
    // round-16: l24 under the ×8 salted corpus is the worst case by
    // construction — every doc text repeats 8 times, so essentially
    // EVERY gram crosses minCount and the hot-occurrence join + the
    // per-doc covered arrays ride the full ×8 corpus (the planted
    // gates still hold: the quote rides original ids only, so its
    // interior grams stay at 2). Cost must stay linear in corpus
    // grams — there is no pair term to inflate
    "l24_substring_excise")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "8").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val probes = ProbeHarness.probesFrom("SPARK_GRAFT_PROBES", DefaultProbes)
    val spark = graft.Sessions.local(cpus)

    // ×mult corpus: ids re-salted into disjoint ranges, text/names as-is
    val out = graft.util.Scratch.deleteOnExit(
      s"/tmp/graft_scale_probe/${java.util.UUID.randomUUID.toString.take(8)}")
    def salt(df: DataFrame, idCol: String): DataFrame =
      (0 until mult).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * 100000000L)))
        .reduce(_.unionAll(_))
    salt(Tables.documents(spark, sfDir), "doc_id")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    salt(Tables.customer(spark, sfDir), "c_custkey")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // identical vectors under re-salted ids: every LSH bucket / IVF cell
    // inflates by the multiple, and the semantic-dedup fixture gains
    // mult-1 EXACT copies per vector — the worst duplicate-heavy case
    salt(Tables.embeddings(spark, sfDir), "vec_id")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events ×mult for the monitoring/layout probes (q3/w11): same time
    // windows and value range, mult× rows per (type, bin) cell and per
    // z-curve segment (written from Tables.events, so ts lands as plain
    // micros — the adapter's non-long branch reads it back)
    salt(Tables.events(spark, sfDir), "event_id")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // lineitem/orders salted on key AND partner columns with the SAME
    // offsets: mult disjoint purchase-graph replicas (cust/supp/order
    // ids shift together, so each replica's edges close on themselves
    // and the salted customer table's seed rows line up with them)
    def saltCols(df: DataFrame, cs: Seq[String]): DataFrame =
      (0 until mult).map(i =>
        cs.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * 100000000L))))
        .reduce(_.unionAll(_))
    saltCols(Tables.orders(spark, sfDir), Seq("o_orderkey", "o_custkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    saltCols(Tables.lineitem(spark, sfDir), Seq("l_orderkey", "l_suppkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(f"| query | $sfDir | x$mult (salted dup) | ratio |")
    println("|---|---|---|---|")
    probes.foreach { name =>
      val base = ProbeHarness.medianTime(spark, name, sfDir, reps)
      val big = ProbeHarness.medianTime(spark, name, out, reps)
      println(f"| $name | $base%.2f s | $big%.2f s | ${big / base}%.1fx |")
    }
    spark.stop()
  }
}
