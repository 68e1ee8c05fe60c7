package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.functions.{vectors => V}
import graft.plans.VectorExpressions

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * [[bruteForceTopK]] is the exact baseline: the (small) query set is
 * broadcast against the corpus, so the corpus is scanned exactly once with
 * no shuffle of the big side — the correct plan when |queries| ≪ |corpus|.
 *
 * [[lshTopK]] is the scale path: corpus and queries are bucketed by a
 * sign-projection LSH key (graft.functions.vectors.signBucket); each query
 * probes only its own bucket, turning the scan into a bucket-key join. At
 * 100 TB the corpus would be written partitioned by this key
 * (graft.sources.Sink.writePartitioned) so probes touch one partition
 * (IVF-style; see PAPERS.md similarity-search entry).
 *
 * Two-phase scoring: every scanned pair is scored with the CHEAP native
 * double-dot expression (graft.plans.FloatVecDot — one codegen'd loop
 * over the float arrays; a 64-term DECIMAL chain would blow the
 * generated-method size and fall back to interpreted evaluation —
 * measured 4× slower). Ranking happens on the approximate score with a
 * +8 candidate buffer (float accumulation error is ~1e-13, vastly below
 * any realistic cosine gap); the survivors — at most |queries|·(k+8)
 * rows per partition — then get the EXACT decimal cosine
 * (FloatVecDotExact), which is what is reported and what the final rank
 * uses.
 *
 * Top-k selection is two-level: a per-partition bounded heap
 * (mapPartitions — the one place imperative per-partition logic is
 * warranted, since Spark has no partial-aggregating top-k), then a final
 * window. A single window over query_id would shuffle ALL n·q scored rows
 * onto q reducers — a q-way parallelism choke on a big corpus.
 */
object Ann {

  private val keptSchema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("cand_id", LongType),
    StructField("qv", ArrayType(FloatType)),
    StructField("cv", ArrayType(FloatType)),
    StructField("approx", DoubleType)))

  /** Per-partition top-(k+8) per query by approximate cosine via a bounded
    * heap, then the exact decimal cosine and a global window over the
    * ≤ partitions·|queries|·(k+8) survivors. Ordering is (cosine desc,
    * cand_id asc) on the 9-dp-rounded exact cosine. */
  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    // positional reads below (getLong(0)/getDouble(4)) make a wrong
    // input projection a silent mis-rank, not an error — pin the
    // contract: topK consumes approxPairs output, nothing else
    require(pairs.columns.toSeq == Seq("query_id", "cand_id", "qv", "cv", "approx"),
      s"topK expects approxPairs output, got: ${pairs.columns.mkString(", ")}")
    val buffered = k + 8
    val local = pairs.mapPartitions { rows =>
      // "better" = (approx desc, cand_id asc); the MAX under this ordering
      // is the worst of the kept set -> O(log k) eviction at the heap head.
      val worstFirst: Ordering[(Double, Long, Seq[Float], Seq[Float])] =
        Ordering.by[(Double, Long, Seq[Float], Seq[Float]), (Double, Long)](t => (t._1, t._2))(
          Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long))
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long, Seq[Float], Seq[Float])]]
      rows.foreach { r =>
        val heap = heaps.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.PriorityQueue.empty(worstFirst))
        heap.enqueue((r.getDouble(4), r.getLong(1), r.getSeq[Float](2), r.getSeq[Float](3)))
        if (heap.size > buffered) heap.dequeue()
      }
      heaps.iterator.flatMap { case (q, heap) =>
        heap.iterator.map { case (approx, cand, qv, cv) => Row(q, cand, qv, cv, approx) }
      }
    }(RowEncoder.encoderFor(keptSchema))
    val exact = local.select(col("query_id"), col("cand_id"),
      V.cosineFromParts(
        call_function("graft_dot_exact", col("qv"), col("cv")),
        call_function("graft_dot_exact", col("qv"), col("qv")),
        call_function("graft_dot_exact", col("cv"), col("cv"))).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id"))
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** (query_id, cand_id, qv, cv, approx) with the cheap codegen'd score;
    * zero-norm vectors sort last (their exact cosine is 0). */
  private def approxPairs(joined: DataFrame): DataFrame =
    joined.select(col("query_id"), col("cand_id"), col("qv"), col("cv"),
      when(col("qn") === 0.0 || col("cn") === 0.0, lit(-2.0))
        .otherwise(call_function("graft_dot", col("qv"), col("cv")) /
          sqrt(col("qn") * col("cn"))).as("approx"))

  private def querySide(queries: DataFrame, extra: Column*): DataFrame =
    queries.select(Seq(col("vec_id").as("query_id"), col("embedding").as("qv"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("qn")) ++ extra: _*)

  private def corpusSide(corpus: DataFrame, extra: Column*): DataFrame =
    corpus.select(Seq(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("cn")) ++ extra: _*)

  /** Exact top-k per query by cosine (ties broken on corpus id). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    val joined = corpusSide(corpus).crossJoin(broadcast(querySide(queries)))
      .filter(col("query_id") =!= col("cand_id"))
    topK(approxPairs(joined), k)
  }

  /**
   * LSH-bucketed top-k with multi-probe: each query probes its own sign
   * bucket plus every bucket within hamming distance `probeRadius` (1 by
   * default, up to 2). Single-probe loses true neighbors that straddle a
   * hyperplane boundary (a near-zero component flips one bucket bit
   * between two near-identical vectors); radius 1 probes the `bits`
   * one-bit flips, radius 2 additionally the C(bits,2) two-bit flips —
   * the recall knob for vectors straddling TWO boundaries — for the cost
   * of broadcasting a (1+bits+C(bits,2))× larger, still tiny, query
   * side. The corpus side is untouched: each corpus vector still lives
   * in exactly ONE bucket (so probes never produce duplicate
   * (query, cand) pairs), and a corpus written partitioned by bucket
   * (Sink.writePartitioned) still prunes to the probed partitions per
   * query. Beyond radius 2 the standard move is L independent tables,
   * not a wider radius (probe count grows combinatorially).
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, bits: Int, k: Int,
      probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius must be 0, 1, or 2")
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    // The probes read the query's bucket by name from a column computed
    // once below the explode. Re-embedding the whole signBucket
    // expression in each of the 1 + bits + C(bits,2) probes pushes the
    // query side's generated code past janino's 64 KB limit, and the
    // stage then runs interpreted.
    val bucket = col("qbucket")
    def flipBit(b: Column, i: Int): Column =
      concat(substring(b, 1, i),
        when(substring(b, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(b, i + 2, bits - i - 1))
    val probeCols = (0 to probeRadius).flatMap {
      case 0 => Seq(bucket)
      case 1 => (0 until bits).map(i => flipBit(bucket, i))
      case _ => for (i <- 0 until bits; j <- (i + 1) until bits)
        yield flipBit(flipBit(bucket, i), j)
    }
    val q = querySide(queries, V.signBucket(col("embedding"), bits).as("qbucket"))
      .select(col("query_id"), col("qv"), col("qn"), explode(array(probeCols: _*)).as("qb"))
    val c = corpusSide(corpus, V.signBucket(col("embedding"), bits).as("cb"))
    val joined = c.join(broadcast(q),
      col("qb") === col("cb") && col("query_id") =!= col("cand_id"))
    topK(approxPairs(joined), k)
  }

  /** Deterministic coarse quantizer for [[ivfTopK]]: the `n` lowest-id
    * corpus vectors as centroids → (centroid_id, embedding). Plans as
    * TakeOrderedAndProject (no full sort). A k-means-trained quantizer
    * clusters better, but its mean vectors are float sums whose value
    * depends on partition order — a deterministic pick keeps the whole
    * operator bit-reproducible across engines and re-runs; see
    * [[refineCentroids]] for the trained variant. */
  def sampleCentroids(corpus: DataFrame, n: Int): DataFrame =
    corpus.orderBy("vec_id").limit(n)
      .select(col("vec_id").as("centroid_id"), col("embedding"))

  /**
   * Lloyd (k-means) refinement of an initial coarse quantizer for
   * [[ivfTopK]]: `iters` rounds of assign-to-nearest-centroid (the same
   * broadcast argmin as the IVF build) then recompute every cell's mean
   * vector. The heavy half of each round is fully declarative: the
   * corpus scan + broadcast argmin + posexplode feed a groupBy(cell,
   * dim) whose SUM/COUNT partial-aggregate map-side, so the shuffle
   * carries C·dim partial sums — never vectors.
   *
   * The centroids themselves live on the DRIVER between rounds (the
   * per-round agg result — C·dim floats, the SAME payload the next
   * round ships back out inside its broadcast — is collected and turned
   * into a fresh local relation). Centroids are genuine coordinator
   * state: if they fit in a broadcast they fit on the driver, every
   * round's plan starts from a LocalRelation (no lineage growth, no
   * checkpoints, no per-round join), and one aggregate job per round is
   * the entire driver-side traffic. A cell that loses all members keeps
   * its previous centroid.
   *
   * BIT-DETERMINISTIC by construction, so a SQL oracle can replay it
   * (the l9 gate does) and re-runs at any parallelism agree:
   *  - assignment is SEMANTICALLY the exact decimal cosine rounded to
   *    9 dp, ties on centroid id — identical to the [[ivfTopK]] argmin —
   *    computed two-phase ([[cheapTop2]] + [[resolveCell]]): cheap float
   *    argmin when the top-2 gap clears [[CellMargin]] (provably the
   *    same answer), exact-decimal fold only for margin-straddlers;
   *  - each cell mean folds its elements through exact DECIMAL(30,20)
   *    addition (order-independent), divides the decimal-exact sum by
   *    the member count as one double division, and ROUNDS TO 6 DP
   *    before casting to float — partition order never reaches the
   *    result. (A plain double AVG's last bits depend on fold order —
   *    the reason this used to be property-tested only.)
   */
  def refineCentroids(corpus: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorExpressions.ensureRegistered(spark)
    val vecs = corpus.select(col("vec_id"), col("embedding"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("vnf"))
    var cent: Seq[(Long, Seq[Float])] = init
      .select(col("centroid_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
    for (_ <- 1 to iters) {
      val c = cent.toDF("cid", "centv").select(col("cid"), col("centv"),
        call_function("graft_dot_exact", col("centv"), col("centv")).as("centn"))
      val assigned = vecs.crossJoin(broadcast(centArray(c)))
        .select(col("embedding"), col("cents"),
          cheapTop2(col("embedding"), col("vnf")).as("t2"))
        .select(resolveCell(col("embedding"), col("t2")).as("cell"),
          col("embedding"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x").cast("double").cast("decimal(30,20)")).as("sd"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          round(col("sd").cast("double") / col("n"), 6).cast("float").as("m"))
        .collect() // C·dim rows: coordinator-sized by definition of a COARSE quantizer
      val byCell = means.groupBy(_.getLong(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq
      }
      cent = cent.map { case (cid, v) => cid -> byCell.getOrElse(cid, v) }
    }
    cent.toDF("centroid_id", "embedding")
  }

  /** Similarity of a (vec, EXACT squared norm) pair to the broadcast
    * centroid columns (centv, centn): decimal-exact cosine rounded to
    * 9 dp — the argmin over centroids must agree bit-for-bit with the
    * oracle, so ALL THREE dots (pair, self, centroid) must be the exact
    * decimal fold; feeding a cheap float-accumulated self-norm here
    * could round differently across engines at a 9-dp boundary and flip
    * the argmin cell. */
  private def centSim(v: Column, vnExact: Column): Column =
    V.cosineFromParts(
      call_function("graft_dot_exact", v, col("centv")), vnExact, col("centn"))

  /** All centroids folded into ONE row holding an array of (cid, centv,
    * centn, centnf) structs — the broadcast side of the map-side argmin
    * fold. `centn` is the exact decimal self-norm (fallback path),
    * `centnf` the cheap float one (prefilter path); both are computed
    * once per centroid here, never per (row, centroid) pair. */
  private def centArray(cent: DataFrame): DataFrame =
    cent.agg(collect_list(struct(col("cid"), col("centv"), col("centn"),
      call_function("graft_dot", col("centv"), col("centv")).as("centnf"))).as("cents"))

  /** Cheap-argmin trust margin, SCALED WITH VECTOR DIMENSION. The exact
    * distance is 1 − round(cos, 9), i.e. values live on a 1e-9 grid; the
    * cheap cosine is a left-to-right double fold of n float products
    * divided by cheap self-norms, whose ABSOLUTE error vs the unrounded
    * exact cosine is bounded by ~3n·eps (each of the three dots carries
    * ≤ n·eps RELATIVE error, |Σ x_i y_i| ≤ |x||y|, and the division
    * normalizes the magnitudes away — so vector MAGNITUDE never enters
    * the bound, only the dimension n; float inputs also can't overflow
    * the double accumulator: n·max_float² ≤ 2³¹·1.2e77 ≪ 1.8e308). With
    * eps = 2⁻⁵² that is ≤ n·6.7e-16, allowed here as n·1e-14 (15×
    * headroom). If the CHEAP gap between the best and second cell
    * exceeds the margin 1e-8 + n·1e-13, the unrounded exact gap exceeds
    * (1e-8 + n·1e-13) − 2·n·1e-14 > 1e-9, so the two cells' ROUNDED
    * distances must differ — the cheap winner is the unique exact argmin
    * and no cid tie-break is in play, at ANY dimension (up to n where
    * n·1e-14 itself nears the 1e-9 grid: ~10⁵ dims, far past any
    * embedding; beyond that every row falls back, which is slow but
    * still exact). Anything closer falls back to the full exact-decimal
    * fold. At 64 dims this is 1e-8 + 64·1e-13 = 1.0064e-8 —
    * behaviorally the previous fixed 1e-8. */
  private def cellMargin(v: Column): Column =
    lit(1e-8) + size(v).cast("double") * lit(1e-13)

  /** Cheap float cosine distance from `v` (float self-norm `vnF`) to the
    * broadcast centroid struct `c` — prefilter only, never reported.
    * Zero-norm handling mirrors vectors.cosineFromParts (dist 1.0); a
    * float sum of squares is 0 iff every element is 0 (no double
    * underflow from float inputs), so the zero test agrees with the
    * exact path bit-for-bit. */
  private def cheapCentDist(v: Column, vnF: Column, c: Column): Column =
    when(vnF === 0.0 || c.getField("centnf") === 0.0, lit(1.0))
      .otherwise(lit(1.0) - call_function("graft_dot", v, c.getField("centv")) /
        (sqrt(vnF) * sqrt(c.getField("centnf"))))

  /** Top-2 cells by CHEAP float distance as struct(best, second), each
    * struct(dist, cid) — one fold over the broadcast centroid array, no
    * decimal math, no ×C row materialization. */
  private def cheapTop2(v: Column, vnF: Column, cents: Column = col("cents")): Column = {
    val far = struct(lit(Double.MaxValue).as("dist"), lit(Long.MaxValue).as("cid"))
    aggregate(cents,
      struct(far.as("best"), far.as("second")),
      (acc, c) => {
        val cand = struct(cheapCentDist(v, vnF, c).as("dist"), c.getField("cid").as("cid"))
        struct(
          least(acc.getField("best"), cand).as("best"),
          least(greatest(acc.getField("best"), cand), acc.getField("second")).as("second"))
      })
  }

  /** Exact-decimal nearest-cell fold — the FALLBACK for rows whose cheap
    * top-2 gap is inside [[CellMargin]] (and the reference semantics the
    * two-phase path must reproduce): per centroid struct(dist, cid) with
    * dist = 1 − exact 9-dp cosine, lexicographic minimum, ties on cid.
    * A `least`-fold rather than `crossJoin → groupBy(min(struct))`: min
    * over a STRUCT has no fixed-width agg buffer, so Spark planned a
    * SortAggregate that sorted the C-amplified table (measured as the
    * dominant per-iteration cost of Lloyd refinement). */
  private def exactArgminCell(v: Column, vnExact: Column,
      cents: Column = col("cents")): Column =
    aggregate(cents,
      struct(lit(Double.MaxValue).as("dist"), lit(Long.MaxValue).as("cid")),
      (acc, c) => least(acc, struct(
        (lit(1.0) - V.cosineFromParts(
          call_function("graft_dot_exact", v, c.getField("centv")),
          vnExact, c.getField("centn"))).as("dist"),
        c.getField("cid").as("cid"))))

  /** Two-phase nearest-cell resolution over a precomputed [[cheapTop2]]
    * column (`top2` must be a materialized column, not an inline
    * expression — keep the fold in its own projection so it is evaluated
    * once): trust the cheap winner when the top-2 gap clears
    * [[cellMargin]] — the dimension-scaled margin argument above makes
    * that bit-identical to the exact fold — and only for
    * margin-straddling rows (ties, near-ties, zero-norm rows) pay the
    * exact-decimal re-evaluation, including its per-row exact self-norm,
    * lazily inside the CaseWhen branch. Same two-phase cheap-then-exact
    * discipline as topK (Ann.scala) and embeddingNearDups (Dedup.scala). */
  private def resolveCell(v: Column, top2: Column,
      cents: Column = col("cents")): Column = {
    val best = top2.getField("best")
    val gap = top2.getField("second").getField("dist") - best.getField("dist")
    when(gap > cellMargin(v), best.getField("cid"))
      .otherwise(exactArgminCell(v,
        call_function("graft_dot_exact", v, v), cents).getField("cid"))
  }

  /** (vec_id, embedding, cell): nearest-centroid cell per corpus vector —
    * the IVF BUILD step standalone, for the boundary-fixture tests and
    * for materializing a cell-partitioned corpus
    * (graft.sources.Sink.writePartitioned) whose probes prune to nProbe
    * partitions per query at 100 TB. Two-phase argmin; identical
    * semantics to the assignment inside [[ivfTopK]] and
    * [[refineCentroids]]. */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    val cent = centroids.select(col("centroid_id").as("cid"),
      col("embedding").as("centv"),
      call_function("graft_dot_exact", col("embedding"), col("embedding")).as("centn"))
    corpus.select(col("vec_id"), col("embedding"),
        call_function("graft_dot", col("embedding"), col("embedding")).as("vnf"))
      .crossJoin(broadcast(centArray(cent)))
      .select(col("vec_id"), col("embedding"), col("cents"),
        cheapTop2(col("embedding"), col("vnf")).as("t2"))
      .select(col("vec_id"), col("embedding"),
        resolveCell(col("embedding"), col("t2")).as("cell"))
  }

  /**
   * L-INDEPENDENT-TABLES LSH top-k — the recall mechanism [[lshTopK]]'s
   * doc points to beyond probe radius 2: rather than probing a
   * combinatorial neighborhood of one key, hash each vector into
   * `tables` independent sign-bucket tables (table t keys on dimensions
   * [t·bits+1, (t+1)·bits] — disjoint axis sets, so a vector straddling
   * a hyperplane of one table is cleanly bucketed by another) and union
   * the per-table bucket joins. Probe cost grows linearly in L, never
   * combinatorially.
   *
   * Candidate pairs are generated EXACTLY ONCE — in the FIRST table
   * where the pair shares a bucket (`!exists` over the earlier tables'
   * keys, both sides' key arrays riding the join) — so no
   * dedup/distinct shuffle of (qv, cv)-carrying rows ever happens; the
   * pair set is identical to DISTINCT over all tables, which is what
   * the oracle replays. Corpus side stays one row per (vector, table):
   * at 100 TB each table's bucket key is a write-time partition column
   * (L copies of the store, or one store partitioned by (t, bucket)).
   */
  def lshTopKMultiTable(queries: DataFrame, corpus: DataFrame, bits: Int,
      tables: Int, k: Int): DataFrame = {
    require(bits >= 1 && tables >= 1, "bits and tables must be positive")
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    def keyT(t: Int): Column = concat_ws("",
      (t * bits + 1 to (t + 1) * bits).map(i =>
        when(element_at(col("embedding"), i) >= 0.0f, lit("1")).otherwise(lit("0"))): _*)
    val keysArr = array((0 until tables).map(keyT): _*)
    val q = querySide(queries, keysArr.as("qks"))
      .select(col("query_id"), col("qv"), col("qn"), col("qks"),
        posexplode(col("qks")).as(Seq("qt", "qb")))
    val c = corpusSide(corpus, keysArr.as("cks"))
      .select(col("cand_id"), col("cv"), col("cn"), col("cks"),
        posexplode(col("cks")).as(Seq("ct", "cb")))
    val firstMatch = !exists(
      zip_with(slice(col("cks"), lit(1), col("ct")),
        slice(col("qks"), lit(1), col("ct")), (x, y) => x === y), b => b)
    val joined = c.join(broadcast(q),
      col("qt") === col("ct") && col("qb") === col("cb") &&
        col("query_id") =!= col("cand_id") && firstMatch)
      .select("query_id", "cand_id", "qv", "cv", "qn", "cn")
    topK(approxPairs(joined), k)
  }

  /**
   * IVF (inverted-file) top-k — the classic scale path for ANN (see
   * PAPERS.md similarity-search entry; mandated addition beyond the
   * reference, which has no vector search):
   * an index-build step coarse-quantizes every corpus vector to its
   * nearest centroid cell, and each query probes only the `nProbe`
   * nearest cells.
   *
   * Shapes, in cluster terms:
   *  - BUILD: corpus ⋈ broadcast(centroid ARRAY — one row) scores
   *    |corpus|·C cheap float pairs inside a projection-level fold
   *    ([[cheapTop2]] + [[resolveCell]]): no ×C row materialization, no
   *    aggregate, exact-decimal math only for margin-straddling rows —
   *    so the one shuffle carries exactly one row per corpus vector
   *    (its cell label riding along). At 100 TB the build
   *    output is written once, partitioned by cell
   *    (graft.sources.Sink.writePartitioned), and amortized over every
   *    subsequent query batch.
   *  - SEARCH: the tiny query side ranks the same broadcast centroids,
   *    keeps nProbe cells per query, and joins cell-to-cell — against a
   *    cell-partitioned corpus the scan prunes to nProbe partitions per
   *    query. Candidates then flow through the same two-phase
   *    (cheap-dot heap → exact-decimal rerank) [[topK]] as l5/l6.
   *
   * Unlike sign-bucket LSH (2^bits cells fixed by the key shape), the
   * cell count C is a free knob and cells track the data distribution,
   * so recall/cost tuning is independent of dimensionality. Ties in
   * both argmins break on centroid id; distance is ordered as
   * (1 − cosine), which is ≥ 0 — no −0.0 ordering hazard.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    val cent = centAliased(centroids)
    // the cheap cn float norm does double duty: topK prefilter AND the
    // cheap cell-argmin; exact self-norms appear only inside resolveCell's
    // fallback branch, for the rare margin-straddling rows
    val cCell = corpusSide(corpus)
      .crossJoin(broadcast(centArray(cent)))
      .select(col("cand_id"), col("cv"), col("cn"), col("cents"),
        cheapTop2(col("cv"), col("cn")).as("t2"))
      .select(col("cand_id"), col("cv"), col("cn"),
        resolveCell(col("cv"), col("t2")).as("cell"))
    searchCells(queries, cCell, cent, nProbe, k)
  }

  /**
   * IVF search over a PRE-ASSIGNED corpus (vec_id, embedding, cell) —
   * the read side of the build-once pattern: [[assignCells]] output is
   * written partitioned by cell (graft.sources.Sink.writePartitioned)
   * and amortized over every query batch; the probe join's equality on
   * the partition column then lets DYNAMIC PARTITION PRUNING drop every
   * unprobed cell's files at the scan — "search 100 TB" becomes "read
   * nProbe partitions per query batch". The w4 catalog entry asserts
   * the pruning expression is in the plan, at the gate.
   */
  def ivfTopKAssigned(queries: DataFrame, assigned: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    VectorExpressions.ensureRegistered(assigned.sparkSession)
    val cCell = assigned.select(col("vec_id").as("cand_id"),
      col("embedding").as("cv"),
      call_function("graft_dot", col("embedding"), col("embedding")).as("cn"),
      col("cell"))
    searchCells(queries, cCell, centAliased(centroids), nProbe, k)
  }

  private def centAliased(centroids: DataFrame): DataFrame =
    centroids.select(col("centroid_id").as("cid"),
      col("embedding").as("centv"),
      call_function("graft_dot_exact", col("embedding"), col("embedding")).as("centn"))

  /** The SEARCH half shared by [[ivfTopK]] and [[ivfTopKAssigned]]:
    * queries rank the broadcast centroids (exact 9-dp cosine — the probe
    * choice must replay in the oracle), keep nProbe cells each, join
    * cell-to-cell against the assigned corpus, and flow through the
    * two-phase [[topK]]. */
  private def searchCells(queries: DataFrame, cCell: DataFrame, cent: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val probes = probeCells(queries, cent, nProbe)
    val joined = cCell.join(broadcast(probes),
      col("qcell") === col("cell") && col("query_id") =!= col("cand_id"))
    topK(approxPairs(joined), k)
  }

  /** The probe choice shared by every IVF search variant: each query
    * ranks the broadcast centroids by the exact 9-dp cosine (the rule
    * the oracle replays) and keeps its nProbe nearest cells → (query_id,
    * qv, qn, qcell). */
  private def probeCells(queries: DataFrame, cent: DataFrame, nProbe: Int): DataFrame = {
    val qSim = querySide(queries,
        call_function("graft_dot_exact", col("embedding"), col("embedding")).as("qnx"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("qv"), col("qn"), col("cid"),
        (lit(1.0) - centSim(col("qv"), col("qnx"))).as("dist"))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("cid"))
    qSim.withColumn("pr", row_number().over(w)).filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid").as("qcell"))
  }

  // ===================================================== product quantization
  //
  // IVF-PQ — the memory tier below IVF-flat: at 100 TB even the nProbe
  // PRUNED partitions hold raw float vectors that dwarf executor memory
  // (a 1-billion-vector cell slice at 64 float dims is 256 GB). Product
  // quantization stores each vector as M small per-subspace code ids
  // (here M·1 longs vs dim·4 bytes — a 64-dim vector compresses 16:1
  // at M=4), and search scores candidates from the CODES plus a
  // broadcast codebook, never touching raw corpus vectors.
  //
  // Semantics are built entirely from the engine's established
  // bit-deterministic quantization primitive: each subspace trains its
  // own K-entry codebook with the SAME exact-9-dp-cosine/ties-on-id
  // Lloyd rounds as [[refineCentroids]] (spherical k-means per
  // subspace), encoding is the same two-phase argmin per subspace, and
  // ADC scoring is expressed as the exact cosine of the query against
  // the code-indexed RECONSTRUCTION (the concatenation of the M looked-
  // up code vectors). dot(q, recon) ≡ Σ_m dot(q_m, codebook_m[code_m])
  // — the per-subspace LUT sum every PQ paper writes — but the recon
  // form rides the existing cheap-then-exact [[topK]] discipline
  // unchanged, stays inside codegen, and replays in a SQL oracle with
  // the same dot fold used everywhere else. (The classic per-query
  // LUT materialization is a batch-local caching of exactly these
  // subspace dots; with broadcast codebooks the lookup cost is already
  // per-pair-fold-free here.)

  /**
   * Train per-subspace PQ codebooks: `nSub` equal slices of the
   * embedding, each refined for `iters` Lloyd rounds from the
   * deterministic lowest-vec_id sample (the [[sampleCentroids]] rule
   * applied per subspace — same init ids in every subspace). Returns
   * (m, cid, centv) — coordinator-sized (nSub·k·subDim floats), the
   * broadcast side of encode and search.
   *
   * One distributed pass per round covers ALL subspaces: the corpus
   * crossJoins the single-row broadcast codebook array-of-arrays, every
   * subspace's two-phase argmin happens in one projection chain (narrow,
   * zero ×K row growth), and the mean recompute explodes to (m, code,
   * dim, x) rows whose decimal partial sums aggregate map-side — the
   * shuffle carries nSub·k·subDim partial sums, never vectors. Means
   * fold through DECIMAL(30,20), divide once, round to 6 dp — the
   * [[refineCentroids]] determinism contract, so a SQL oracle replays
   * training bit-for-bit. A code that loses all members keeps its
   * previous vector.
   */
  def pqTrain(corpus: DataFrame, nSub: Int, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    VectorExpressions.ensureRegistered(spark)
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim must divide into $nSub subspaces")
    val subDim = dim / nSub
    val init = corpus.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding")).collect()
    var cbs: Seq[(Int, Long, Seq[Float])] = for {
      m <- 0 until nSub
      r <- init
    } yield (m, r.getLong(0), r.getSeq[Float](1).slice(m * subDim, (m + 1) * subDim))
    for (_ <- 1 to iters) {
      val assigned = encodeProjection(corpus, cbs, nSub, subDim)
      val means = assigned
        // posexplode of the m-ordered codes array IS the (m, code) pair
        .select(col("embedding"), posexplode(col("codes")).as(Seq("m", "code")))
        .select(col("m"), col("code"),
          posexplode(slice(col("embedding"),
            col("m") * subDim + 1, lit(subDim))).as(Seq("dim", "x")))
        .groupBy(col("m"), col("code"), col("dim"))
        .agg(sum(col("x").cast("double").cast("decimal(30,20)")).as("sd"),
          count(lit(1)).as("n"))
        .select(col("m"), col("code"), col("dim"),
          round(col("sd").cast("double") / col("n"), 6).cast("float").as("mv"))
        .collect() // nSub·k·subDim rows: coordinator-sized by construction
      val byKey = means.groupBy(r => (r.getInt(0), r.getLong(1))).map { case (key, rows) =>
        key -> rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toSeq
      }
      cbs = cbs.map { case (m, cid, v) => (m, cid, byKey.getOrElse((m, cid), v)) }
    }
    cbs.toDF("m", "cid", "centv")
  }

  /** One-row broadcast frame holding every subspace's centroid array:
    * `cball[m+1]` is subspace m's (cid, centv, centn, centnf) structs —
    * the [[centArray]] shape, nested one level so all nSub argmins ride
    * ONE crossJoin. */
  private def pqCball(spark: org.apache.spark.sql.SparkSession,
      cbs: Seq[(Int, Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    cbs.toDF("m", "cid", "centv")
      .select(col("m"), struct(col("cid"), col("centv"),
        call_function("graft_dot_exact", col("centv"), col("centv")).as("centn"),
        call_function("graft_dot", col("centv"), col("centv")).as("centnf")).as("c"))
      .groupBy(col("m")).agg(sort_array(collect_list(
        struct(col("c.cid").as("cid"), col("c.centv").as("centv"),
          col("c.centn").as("centn"), col("c.centnf").as("centnf")))).as("cents"))
      .agg(sort_array(collect_list(struct(col("m"), col("cents")))).as("mcents"))
      .select(transform(col("mcents"), s => s.getField("cents")).as("cball"))
  }

  /** Narrow per-row encode: corpus × broadcast(cball) → (vec_id,
    * embedding, codes) with codes[m] = subspace m's two-phase argmin
    * cid. Three projections (subvs+norms → top2s → resolves) so every
    * fold is evaluated once — the [[resolveCell]] contract. */
  private def encodeProjection(corpus: DataFrame,
      cbs: Seq[(Int, Long, Seq[Float])], nSub: Int, subDim: Int,
      passThrough: Seq[String] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    val base = Seq(col("vec_id"), col("embedding")) ++ passThrough.map(col)
    val withSubs = corpus.select(base ++
      (0 until nSub).map(m =>
        slice(col("embedding"), m * subDim + 1, subDim).as(s"sv$m")): _*)
      .crossJoin(broadcast(pqCball(spark, cbs)))
    val withNorms = withSubs.select(base ++ Seq(col("cball")) ++
      (0 until nSub).flatMap(m => Seq(col(s"sv$m"),
        call_function("graft_dot", col(s"sv$m"), col(s"sv$m")).as(s"nf$m"))): _*)
    val withTop2 = withNorms.select(base ++ Seq(col("cball")) ++
      (0 until nSub).flatMap(m => Seq(col(s"sv$m"),
        cheapTop2(col(s"sv$m"), col(s"nf$m"),
          element_at(col("cball"), m + 1)).as(s"t2$m"))): _*)
    withTop2.select(base ++ Seq(
      array((0 until nSub).map(m =>
        resolveCell(col(s"sv$m"), col(s"t2$m"),
          element_at(col("cball"), m + 1))): _*).as("codes")): _*)
  }

  /** (vec_id, cell, codes): coarse IVF cell + PQ codes in one narrow
    * pass — the complete IVF-PQ index row (what a 100-TB store persists
    * partitioned by cell: M code ids per vector, no raw embedding). */
  def pqEncodeWithCells(corpus: DataFrame, codebooks: DataFrame,
      centroids: DataFrame): DataFrame = {
    VectorExpressions.ensureRegistered(corpus.sparkSession)
    val cbs = collectCodebooks(codebooks)
    val nSub = cbs.map(_._1).max + 1
    val subDim = cbs.head._3.length
    // cell rides the encode projections (passThrough) — ONE narrow pass,
    // no vec_id self-join
    encodeProjection(assignCells(corpus, centroids), cbs, nSub, subDim,
        passThrough = Seq("cell"))
      .select(col("vec_id"), col("cell"), col("codes"))
  }

  private def collectCodebooks(codebooks: DataFrame): Seq[(Int, Long, Seq[Float])] =
    codebooks.select(col("m"), col("cid"), col("centv")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).sortBy(t => (t._1, t._2))

  /**
   * IVF-PQ search: queries pick nProbe cells by the exact centroid
   * ranking (the [[searchCells]] probe rule), candidates arrive as
   * (vec_id, cell, codes) — CODES ONLY, the store never ships raw
   * vectors — and each candidate's scored representation is its
   * code-indexed reconstruction from the broadcast codebooks. Scoring
   * and ranking are the asymmetric-distance cosine cos(q, recon(x)):
   * the cheap float dot prefilters through the bounded-heap [[topK]],
   * survivors get the exact-decimal 9-dp value, ties on cand_id — so
   * the full train→encode→ADC-rank chain replays in a SQL oracle.
   */
  def ivfPqTopK(queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    VectorExpressions.ensureRegistered(queries.sparkSession)
    val probes = probeCells(queries, centAliased(centroids), nProbe)
    topK(approxPairs(adcPairs(probes, encoded, codebooks)), k)
  }

  /** The ADC candidate stage shared by [[ivfPqTopK]] and the refined
    * store search: probed-cell join against the codes table, candidates
    * scored as (qv · reconstruction) pairs ready for [[topK]].
    * Reconstruction is, per subspace, the codebook vector whose cid is
    * the stored code — a pure lookup fold over the broadcast array,
    * then one concat; no join, no shuffle on the candidate side (the
    * indexed transform lambda supplies m: codes is m-ordered by
    * construction). */
  private def adcPairs(probes: DataFrame, encoded: DataFrame,
      codebooks: DataFrame): DataFrame = {
    val spark = encoded.sparkSession
    val cbs = collectCodebooks(codebooks)
    val reconExpr = flatten(transform(col("codes"),
      (code, m) => element_at(
        filter(element_at(col("cball"), m + 1),
          c => c.getField("cid") === code), 1).getField("centv")))
    encoded
      .join(broadcast(probes), col("qcell") === col("cell") &&
        col("query_id") =!= col("vec_id"))
      .crossJoin(broadcast(pqCball(spark, cbs)))
      .select(col("query_id"), col("qv"), col("qn"),
        col("vec_id").as("cand_id"), reconExpr.as("cv"))
      .select(col("query_id"), col("cand_id"), col("qv"), col("cv"), col("qn"),
        call_function("graft_dot", col("cv"), col("cv")).as("cn"))
  }

  /**
   * IVF-PQ with EXACT REFINEMENT (the "+R" every production IVFADC
   * deployment runs): quantized scores tie within a code cell — ADC
   * alone cannot order true near-neighbors sharing a reconstruction —
   * so the ADC ranking keeps a `kAdc` buffer per query and only those
   * candidates get their RAW vectors read back and reranked by the
   * exact 9-dp cosine. The refinement read is queries·kAdc point
   * lookups — at 100 TB, a broadcast semi-join against the
   * cell-partitioned raw store (carry the cell through for DPP);
   * memory stays code-sized everywhere else. Deterministic end to end
   * (ADC buffer by 9-dp adc ties cand_id, rerank by 9-dp exact ties
   * cand_id), so the full chain replays in SQL.
   */
  def ivfPqTopKRefined(queries: DataFrame, encoded: DataFrame,
      corpusRaw: DataFrame, codebooks: DataFrame, centroids: DataFrame,
      nProbe: Int, kAdc: Int, k: Int): DataFrame = {
    require(kAdc >= k, s"refinement buffer kAdc=$kAdc must be >= k=$k")
    val buffer = ivfPqTopK(queries, encoded, codebooks, centroids, nProbe, kAdc)
      .select(col("query_id"), col("cand_id"))
    val raw = corpusRaw.select(col("vec_id"), col("embedding"))
    val qRaw = querySide(queries)
    val pairs = raw.join(broadcast(buffer), col("vec_id") === col("cand_id"))
      .join(broadcast(qRaw), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("qv"),
        col("embedding").as("cv"), col("qn"),
        call_function("graft_dot", col("embedding"), col("embedding")).as("cn"))
    topK(approxPairs(pairs), k)
  }

  /**
   * The refined search over BOTH persisted stores — the complete
   * production read path: the ADC stage joins the codes store through
   * the probed cells (partition-prunable), and the refinement read of
   * the RAW store is pruned the same way — every buffer candidate lives
   * in a probed cell by construction, so a cell semi-join prunes the
   * raw scan to nProbe partitions BEFORE the broadcast point-lookup of
   * the buffer ids. Neither store is ever scanned whole; the raw store
   * contributes queries·kAdc rows read out of nProbe partitions. Both
   * stores must be hive-partitioned by `cell` (the w4/w8 layouts); the
   * w9 gate requires dynamic partition pruning on BOTH scans.
   */
  // ------------------------------------------------------------ SQ8
  // Scalar quantization — the memory tier BETWEEN raw float32 and PQ:
  // one byte per dimension (4x smaller than raw; PQ is smaller still
  // but pays codebook training + reconstruction error). Train is two
  // numbers per dimension (min/max) — embarrassingly mergeable, no
  // Lloyd loop, no codebooks — and encode/decode are pure per-row
  // arithmetic, so SQ8 is the quantization a pipeline can apply to a
  // 100-TB corpus in ONE narrow pass the same day the corpus lands.
  // Composition with the IVF lifecycle is positional, exactly like PQ:
  // (vec_id, cell, codes) partitioned by cell is the persisted store.

  /**
   * Train the SQ8 quantizer: per-dimension (lo, hi) = min/max over the
   * corpus, as doubles. One posexplode + one grouped aggregate whose
   * map-side partials collapse the corpus to partitions·dim rows before
   * the shuffle; the result is dim rows — coordinator-sized, the
   * broadcast side of encode and search. Rows are (dim, lo, hi),
   * dim 0-based.
   */
  def sq8Train(corpus: DataFrame): DataFrame =
    corpus
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))

  /** One-row broadcast frame: dim-ordered `los` / `his` arrays. */
  private def sqBall(sq: DataFrame): DataFrame =
    sq.groupBy()
      .agg(sort_array(collect_list(
        struct(col("dim"), col("lo"), col("hi")))).as("s"))
      .select(
        transform(col("s"), e => e.getField("lo")).as("los"),
        transform(col("s"), e => e.getField("hi")).as("his"))

  /**
   * Narrow per-row encode: codes[i] = floor((x_i − lo_i)·255 ∕
   * (hi_i − lo_i)) clamped to [0, 255] (a degenerate dimension with
   * hi = lo encodes 0). Every op is double IEEE arithmetic in a fixed
   * order, so a SQL oracle replays the codes bit-for-bit. Returns
   * (vec_id, codes: array<int>) — the persisted form would pack these
   * to bytes; ints keep the cross-engine comparison exact.
   */
  def sq8Encode(corpus: DataFrame, sq: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(sqBall(sq)))
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) => {
          val lo = element_at(col("los"), i + 1)
          val hi = element_at(col("his"), i + 1)
          when(hi > lo,
            least(lit(255), greatest(lit(0),
              floor(((x.cast("double") - lo) * lit(255.0)) / (hi - lo))
                .cast("int"))))
            .otherwise(lit(0))
        }).as("codes"))

  /** Dequantized candidate side from a codes table: cv[i] = lo_i +
    * codes[i]·(hi_i − lo_i) ∕ 255 cast to float — the scored
    * representation, reconstructed per row from the broadcast
    * quantizer, no join. */
  private def sq8DeqSide(codes: DataFrame, sq: DataFrame): DataFrame =
    codes.crossJoin(broadcast(sqBall(sq)))
      .select(col("vec_id").as("cand_id"),
        transform(col("codes"), (c, i) => {
          val lo = element_at(col("los"), i + 1)
          val hi = element_at(col("his"), i + 1)
          (lo + (c.cast("double") * (hi - lo)) / lit(255.0)).cast("float")
        }).as("cv"))
      .select(col("cand_id"), col("cv"),
        call_function("graft_dot", col("cv"), col("cv")).as("cn"))

  /**
   * SQ8 search with exact refinement: rank ALL candidates by the
   * cosine of their dequantized reconstruction (the scan that, on a
   * persisted store, reads 1-byte codes instead of 4-byte floats),
   * keep a `kSq` buffer per query, then read back ONLY the buffer's
   * raw vectors and rerank by the exact 9-dp cosine — the
   * [[ivfPqTopKRefined]] discipline with the scalar quantizer in
   * place of codebooks. Both rankings are deterministic (9-dp value,
   * ties on cand_id), so the full train→encode→rank→refine chain
   * replays in a SQL oracle. Flat scan here; compose with
   * [[assignCells]]/cell partitioning for the IVF-pruned form exactly
   * as PQ does.
   */
  def sq8TopKRefined(queries: DataFrame, corpus: DataFrame, sq: DataFrame,
      kSq: Int, k: Int): DataFrame = {
    require(kSq >= k, s"refinement buffer kSq=$kSq must be >= k=$k")
    VectorExpressions.ensureRegistered(queries.sparkSession)
    val deq = sq8DeqSide(sq8Encode(corpus, sq), sq)
    val joined = deq.crossJoin(broadcast(querySide(queries)))
      .filter(col("query_id") =!= col("cand_id"))
    val buffer = topK(approxPairs(joined), kSq)
      .select(col("query_id"), col("cand_id"))
    val raw = corpus.select(col("vec_id"), col("embedding"))
    val pairs = raw.join(broadcast(buffer), col("vec_id") === col("cand_id"))
      .join(broadcast(querySide(queries)), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("qv"),
        col("embedding").as("cv"), col("qn"),
        call_function("graft_dot", col("embedding"), col("embedding")).as("cn"))
    topK(approxPairs(pairs), k)
  }

  def ivfPqTopKRefinedStores(queries: DataFrame, codesStore: DataFrame,
      rawStore: DataFrame, codebooks: DataFrame, centroids: DataFrame,
      nProbe: Int, kAdc: Int, k: Int): DataFrame = {
    require(kAdc >= k, s"refinement buffer kAdc=$kAdc must be >= k=$k")
    VectorExpressions.ensureRegistered(queries.sparkSession)
    val probes = probeCells(queries, centAliased(centroids), nProbe)
    val buffer = topK(approxPairs(adcPairs(probes, codesStore, codebooks)), kAdc)
      .select(col("query_id"), col("cand_id"))
    val rawPruned = rawStore
      .join(broadcast(probes.select(col("qcell").as("cell")).distinct()),
        Seq("cell"), "left_semi")
    val pairs = rawPruned.join(broadcast(buffer), col("vec_id") === col("cand_id"))
      .join(broadcast(querySide(queries)), Seq("query_id"))
      .select(col("query_id"), col("cand_id"), col("qv"),
        col("embedding").as("cv"), col("qn"),
        call_function("graft_dot", col("embedding"), col("embedding")).as("cn"))
    topK(approxPairs(pairs), k)
  }

  /**
   * Per-item k-NEAREST-NEIGHBOR SELF-JOIN within the quantizer's cells —
   * the "every item's neighbors" primitive (recommendation candidates,
   * neighbor-graph construction for clustering/UMAP-class methods) that
   * neither the query-panel searches (l5/l6/l8: small query set vs
   * corpus) nor the threshold-pair dedups (l4/l12: pairs above a cutoff)
   * express: EVERY vector gets its top-k in-cell neighbors, ranked.
   *
   * Scale shape: the same trained coarse quantizer the corpus's ANN
   * index already maintains blocks the pair space to Σ cell² (the l12
   * discipline; C is the free knob), norms are computed per ROW before
   * the join so each pair pays one exact dot ([[graft.functions.vectors
   * .cosineFromParts]]), and the per-vector ranking window partitions by
   * vec_id — corpus-many small partitions, each bounded by its cell's
   * size, never a global funnel. Cell-restricted candidates make this
   * approximate in the ANN sense, exact under the gate: the oracle
   * replays train → assign → in-cell pairs → rounded cosine → rank.
   */
  def knnJoin(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    VectorExpressions.ensureRegistered(emb.sparkSession)
    def dotX(x: Column, y: Column) = call_function("graft_dot_exact", x, y)
    val assigned = assignCells(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")), centroids)
    val a = assigned.select(col("vec_id"), col("embedding").as("v1"), col("cell"),
      dotX(col("embedding"), col("embedding")).as("xnsq1"))
    val b = assigned.select(col("vec_id").as("nbr_id"), col("embedding").as("v2"),
      col("cell"), dotX(col("embedding"), col("embedding")).as("xnsq2"))
    a.join(b, Seq("cell")).filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        graft.functions.vectors.cosineFromParts(
          dotX(col("v1"), col("v2")), col("xnsq1"), col("xnsq2")).as("sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("sim").desc, col("nbr_id"))))
      .filter(col("rank") <= k)
  }
}
