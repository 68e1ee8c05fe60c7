package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{text => T, vectors => V}

/**
 * Deduplication family for large-scale training-data pipelines. The exact
 * path generalizes the reference's hash-key dedup (services/normalizer/
 * hash_generator.py); the approximate paths (MinHash+LSH, SimHash,
 * n-gram Jaccard, embedding cosine) are the standard near-dup stack
 * (Broder 1997 resemblance / Charikar 2002 SimHash / Schleimer 2003
 * winnowing).
 *
 * Scale design (SURVEY.md §5): candidate generation is ALWAYS a shuffle on
 * a bucket key — (band, band-hash) for MinHash, a 16-bit fingerprint block
 * for SimHash, a sign-projection bucket for embeddings — never an O(n²)
 * cross join, so cost is Σ bucket², not n². Buckets above `maxBucket` are
 * dropped before pair generation (boilerplate-document skew guard): one
 * viral template must not create a quadratic hot bucket. No stage persists
 * anything, so there is no cache to leak. The MinHash path references
 * each subtree once (one grouped pass per bucket, one broadcast pair list
 * per candidate doc), so its cost holds whether or not Spark reuses an
 * exchange: adaptive execution never reuses one above a cached input,
 * whose every reference becomes its own TableCacheQueryStage. The simhash
 * block join, [[containmentPairs]] and [[minhashRecallAudit]] still
 * self-join and depend on that reuse.
 */
object Dedup {

  /**
   * ASYMMETRIC CONTAINMENT near-dup: pairs where one document's shingle
   * set is mostly INSIDE the other's (containment of A in B =
   * |A∩B| / |A|) — the aggregator/wrapped-copy case resemblance misses:
   * a short article quoted whole inside a long page has low Jaccard
   * (the union is big) but containment ≈ 1.
   *
   * Candidates come from a shingle inverted index, NOT minhash bands —
   * minhash LSH estimates resemblance, so a small-in-big pair rarely
   * collides. The cost guard is a DOCUMENT-FREQUENCY CAP (the g5
   * apexCap rule, by specification): shingles appearing in more than
   * `maxDf` docs — boilerplate runs, ubiquitous phrases — identify
   * nothing and cost df² pairs each, so they are dropped before pair
   * generation and EXCLUDED from the denominators; cost is
   * Σ min(df, cap)² over shingles. Both engines apply the identical
   * rule, so the score stays exact (integer overlap counts, one
   * exact-operand double division per side, round 9).
   *
   * Returns (id1, id2, n_shared, containment) with id1 < id2,
   * containment = max of the two sides, filtered at `minContainment`.
   */
  def containmentPairs(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, maxDf: Int, minContainment: Double): DataFrame = {
    require(maxDf >= 2, "maxDf < 2 would drop every shared shingle")
    require(minContainment > 0 && minContainment <= 1, "minContainment in (0, 1]")
    val sh = shingleTable(corpus, idCol, textCol, shingleN)
      .select(col(idCol).as("id"), col("s")).distinct()
    val kept = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= maxDf)
      .select("id", "s")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = kept.as("x")
      .join(kept.as("y"), col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("id").as("id1"), col("n_sh").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n_sh").as("n2")), "id2")
      .withColumn("containment", round(
        greatest(
          col("n_shared").cast("double") / col("n1").cast("double"),
          col("n_shared").cast("double") / col("n2").cast("double")), 9))
      .filter(col("containment") >= minContainment)
      .select("id1", "id2", "n_shared", "containment")
  }

  /** Exact dedup: group on md5 of the content, keep min id as survivor. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_dups"))

  /**
   * One row per (doc id, shingle), built NARROW: the split token array is
   * projected once per document, then the size-n+1 shingles come from a
   * `transform(sequence(...), i -> array_join(slice(ws, i, n)))` over that
   * projected column — all map-side expressions, ZERO shuffle. (The
   * quadratic re-evaluation trap only applies to lambdas over an INLINE
   * split; a projected array column is materialized once per row.)
   *
   * Scale shape: because no Exchange precedes it, the downstream
   * signature groupBy partial-aggregates map-side — the shuffle carries
   * ~k·8B of minima per document instead of the whole tokenized corpus.
   * (The previous window-`lead` build forced a full shuffle+sort of every
   * token BEFORE any aggregation — at 100 TB that is the difference
   * between shuffling >100 TB and shuffling ~1 TB.)
   */
  private def shingleTable(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, carry: Seq[String] = Nil): DataFrame = {
    val ws = corpus
      .select(col(idCol).as("id") +: carry.map(col) :+ split(col(textCol), " ").as("ws"): _*)
      .filter(size(col("ws")) >= shingleN) // sequence(1, n<=0) would step DOWN
    ws.select(col("id") +: carry.map(col) :+
      explode(transform(sequence(lit(1), size(col("ws")) - (shingleN - 1)),
        i => array_join(slice(col("ws"), i, lit(shingleN)), " "))).as("s"): _*)
  }

  /** Per-document min-hash signature (m0..m{k-1}, long 32-bit slices):
    * [[shingleTable]] → the native `graft_minhash_slices` expression
    * (all ceil(k/4) md5 digests of a shingle in one pass — one reused
    * MessageDigest, no hex-string round-trips; bit-identical to
    * `conv(substring(concat(md5(s), md5(s||'#1'), ..), 8j+1, 8), 16, 10)`,
    * which is what the DuckDB oracle computes) → k long MIN aggregates.
    * Long mins use a map-side HashAggregate; min over the hex STRINGS
    * planned a SortAggregate — a full sort of the exploded shingle table
    * before the partial agg, measured as the stage's dominant cost. */
  private def minhashSig(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, carry: Seq[String] = Nil): DataFrame = {
    graft.plans.VectorExpressions.ensureRegistered(corpus.sparkSession)
    val sl = shingleTable(corpus, idCol, textCol, shingleN, carry)
      .select(col("id") +: carry.map(col) :+
        call_function("graft_minhash_slices", col("s"), lit((k + 3) / 4)).as("sl"): _*)
    val mins = (0 until k).map(j => min(col("sl")(j)).as(s"m$j"))
    // carry columns must be FUNCTIONS of the id (e.g. the corpus tag a
    // union row was born with) — then grouping by them changes no group
    sl.groupBy("id", carry: _*).agg(mins.head, mins.tail: _*)
  }

  /** Per-doc band keys: (id, extra..., b, bh), one row per (doc, band).
    * Shared by the candidate generator and the dropped-bucket audit so the
    * two always agree on a bucket's population. */
  private def bandKeys(sig: DataFrame, k: Int, bands: Int, extra: Seq[String]): DataFrame = {
    val rowsPerBand = k / bands
    val keys = (0 until bands).map(b =>
      md5(concat_ws("#",
        (0 until rowsPerBand).map(r => sliceHex(col(s"m${b * rowsPerBand + r}"))): _*)))
    sig.select(col("id") +: extra.map(col) :+ posexplode(array(keys: _*)).as(Seq("b", "bh")): _*)
  }

  /** Skew-capped LSH candidates from per-doc band keys → distinct
    * (id1, id2) pairs, id1 < id2. `sig` must carry columns m0..m{k-1}.
    *
    * ONE grouped pass: each (b, bh) bucket's id list is collected on an
    * exchange with an EXPLICIT partition count (the band table's bytes
    * are small, so AQE would coalesce it to one task and run the
    * O(Σ bucket²) pair emission above it single-threaded — measured as a
    * 1.5-2 s one-task stage at sf0.1; explicit counts are exempt from
    * coalescing), buckets over the cap are dropped, and the pairs inside
    * each surviving bucket are emitted from its list. The signature table
    * is referenced once, so the cost holds over a cached input too (see
    * the object doc on exchange reuse).
    *
    * With `tagCol` set (a BOOLEAN column riding on `sig`), each bucket
    * keeps one list per side and emits only CROSS pairs (n_inc·n_ref of
    * them), so same-tag pairs never materialize; the output then also
    * carries (tag1, tag2), the tags of id1 and id2. The skew cap is PER
    * SIDE on tagged runs: a bucket is dropped only when one side's own
    * population exceeds `maxBucket`. Cross-pair work per bucket stays
    * ≤ maxBucket² — the same quadratic bound as the union cap — but a
    * pathologically self-duplicated batch can no longer push a MIXED
    * bucket over the cap and evict its true cross pairs. Untagged runs
    * keep the union-population cap (the l1/l3 oracle contract). */
  private def candidatesFromSig(sig: DataFrame, k: Int, bands: Int,
      maxBucket: Int, tagCol: Option[String] = None): DataFrame = {
    val keyed = bandKeys(sig, k, bands, tagCol.toSeq)
      .repartition(graft.config.Knobs.amplifiedShufflePartitions(sig.sparkSession),
        col("b"), col("bh"))
      .groupBy("b", "bh")
    val pairs = tagCol match {
      case None =>
        val ids = col("ids")
        keyed.agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(ids) >= 2 && size(ids) <= maxBucket)
          .select(explode(flatten(transform(sequence(lit(1), size(ids) - 1), i =>
            transform(slice(ids, i + 1, size(ids) - i), y =>
              struct(element_at(ids, i).as("id1"), y.as("id2")))))).as("p"))
      case Some(t) =>
        val (inc, ref) = (col("inc"), col("ref"))
        // collect_list skips the nulls `when` leaves for the other side
        keyed.agg(collect_list(when(col(t), col("id"))).as("inc"),
            collect_list(when(!col(t), col("id"))).as("ref"))
          .filter(size(inc) >= 1 && size(ref) >= 1 &&
            size(inc) <= maxBucket && size(ref) <= maxBucket)
          .select(explode(flatten(transform(inc, x =>
            transform(filter(ref, y => y =!= x), y =>
              struct(least(x, y).as("id1"), greatest(x, y).as("id2"),
                (x < y).as("tag1"), (x > y).as("tag2")))))).as("p"))
    }
    pairs.select("p.*").distinct()
  }

  /** The long slice back to the exact 8-hex lowercase form the md5-hex
    * concatenation (and the DuckDB oracle's band keys) use. */
  private def sliceHex(c: Column): Column = lower(lpad(hex(c), 8, "0"))

  /**
   * LSH candidate pairs over (id, normalized-text): [[minhashSig]]
   * (partial-aggregated map-side over the shuffle-free shingle build, so
   * the one exchange carries only per-doc minima) → [[candidatesFromSig]].
   */
  def lshCandidates(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    candidatesFromSig(minhashSig(corpus, idCol, textCol, shingleN, k),
      k, bands, maxBucket)
  }

  /**
   * Attach a per-document feature (a shingle/gram set, typically) to BOTH
   * sides of a candidate pair list — the verification join every near-dup
   * pipeline ends with, shaped so its cost is sized to CANDIDATES, never
   * to the corpus, and so that `cand` and the corpus are each referenced
   * once:
   *  - `cand` folds into one pair list per candidate doc
   *    (id → [(id1, id2, carryPair...)]), BROADCAST into an inner join
   *    that cuts the corpus to candidate docs. (Broadcast explicitly:
   *    Catalyst can't size the list statically — it sits above
   *    aggregates — and plans a sort-merge join, which exchanges the
   *    WHOLE corpus by id before AQE can flip the join; at 100 TB that is
   *    a full corpus shuffle for nothing. The list is two entries per
   *    pair; if a dup rate ever makes that too big to broadcast, the
   *    scale path is a broadcast BLOOM of the ids filtering the corpus
   *    map-side, then a shuffled join of survivors only.)
   *  - the list rides through the feature build on each doc's row, then
   *    explodes to one (pair, member, feature) row per pair side and a
   *    groupBy(pair) re-assembles the two sides. No second reference to
   *    `cand` or to the feature table exists: over a cached input each
   *    reference would rerun the whole candidate build (see the object
   *    doc on exchange reuse).
   *  - both post-cut exchanges carry EXPLICIT partition counts: their
   *    BYTES are small, so AQE's byte-based coalescing would run the
   *    CPU-heavy feature build and the per-pair set intersection above
   *    them in one task (measured 1.3-2 s single-task stages; explicit
   *    counts are exempt from coalescing).
   *
   * `features` receives the candidate-doc frame (id, t, _prs) and returns
   * it with ONE feature column added; `id` and `_prs` must pass through
   * (a row-level projection such as `withColumn` does so by construction).
   * Returns (id1, id2, carryPair..., f1, f2). `carryPair` columns are
   * pair-level payload on `cand` (must be functions of (id1, id2) — e.g.
   * which side of a cross pair is the incoming doc) that ride through to
   * the output so callers need no re-join to recover them.
   */
  private def pairSides(cand: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, carryPair: Seq[String] = Nil)(
      features: DataFrame => DataFrame): DataFrame = {
    val parts = graft.config.Knobs.amplifiedShufflePartitions(corpus.sparkSession)
    val pairKey = (Seq("id1", "id2") ++ carryPair).map(col)
    val lists = cand
      .select(explode(array(col("id1"), col("id2"))).as("cid"), struct(pairKey: _*).as("pr"))
      .groupBy("cid").agg(collect_list(col("pr")).as("_prs"))
    val candCorpus = corpus.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(broadcast(lists), col("id") === col("cid"))
      .select("id", "t", "_prs")
      .repartition(parts, col("id"))
    val feats = features(candCorpus)
    val fCol = feats.columns.filterNot(Set("id", "t", "_prs")) match {
      case Array(f) if Set("id", "_prs").subsetOf(feats.columns.toSet) => f
      case _ => throw new IllegalArgumentException(
        "features must return (id, _prs, <one feature column>), got " +
          feats.columns.mkString(","))
    }
    feats.select(col("id"), col(fCol).as("f"), explode(col("_prs")).as("pr"))
      .select(col("pr.*"), col("id"), col("f"))
      .repartition(parts, col("id1"), col("id2"))
      .groupBy(pairKey: _*)
      .agg(
        first(when(col("id") === col("id1"), col("f")), ignoreNulls = true).as("f1"),
        first(when(col("id") === col("id2"), col("f")), ignoreNulls = true).as("f2"))
  }

  /** [[pairSides]] for callers outside the operator (the catalog's l3
    * composes it with char-n-gram features). */
  def verifyPairSides(cand: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String)(features: DataFrame => DataFrame): DataFrame =
    pairSides(cand, corpus, idCol, textCol)(features)

  /** The per-doc distinct shingle-hash set (`hset`) [[minhashPairs]]
    * verifies with, exposed for threshold-sweep composition (catalog
    * l23): adds `hset` to the (id, t, ...) frame [[verifyPairSides]]
    * hands its callback. A row-level projection over the projected word
    * array (materialized once per row, so the shingle lambda does not
    * re-split the text per shingle); null for docs shorter than
    * `shingleN` words, which have no shingles. */
  def shingleHashSetFeature(cc: DataFrame, shingleN: Int): DataFrame = {
    val ws = col("_ws")
    cc.withColumn("_ws", split(col("t"), " "))
      .withColumn("hset", when(size(ws) >= shingleN, array_distinct(
        transform(sequence(lit(1), size(ws) - (shingleN - 1)),
          i => md5(array_join(slice(ws, i, lit(shingleN)), " "))))))
      .drop("_ws")
  }

  /**
   * MinHash + LSH near-duplicate pairs: candidates as in [[lshCandidates]],
   * then verify each pair with the true shingle-set Jaccard, computed over
   * the per-document DISTINCT shingle-hash sets (md5 is injective here for
   * all practical purposes, so hash-set Jaccard equals shingle-set
   * Jaccard), attached candidate-sized via [[pairSides]].
   */
  def minhashPairs(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    val cand = candidatesFromSig(minhashSig(corpus, idCol, textCol, shingleN, k),
      k, bands, maxBucket)
    // one md5 (32 hex) alone identifies the shingle — the verification
    // sets need only an injective shingle id, not the k-slice signature
    pairSides(cand, corpus, idCol, textCol)(shingleHashSetFeature(_, shingleN))
      .select(col("id1"), col("id2"), T.jaccard(col("f1"), col("f2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * MINHASH-LSH RECALL AUDIT — q6's estimate-vs-exact discipline for the
   * DEDUP side: on a SAMPLED panel, compute the exact ground-truth
   * near-dup pairs (true shingle-hash-set Jaccard >= `threshold`) and
   * flag which of them the production banding configuration would have
   * surfaced as candidates. A dedup pipeline's recall drifts silently —
   * banding parameters tuned for last year's document-length
   * distribution quietly miss today's duplicates, and nothing
   * downstream notices missing PAIRS; only this comparison does. Run it
   * scheduled on a panel, never the corpus: the exact side is the
   * expensive leg by design.
   *
   * Output: one row per TRUE pair — (id1, id2, jaccard, found). recall
   * = avg(found) downstream; emitting pairs rather than the quotient
   * keeps the audit actionable (the missed pairs ARE the tuning
   * evidence).
   *
   * Scale shape: the exact side is an INVERTED-INDEX pair generation,
   * not a cartesian — explode distinct shingle hashes, equi-self-join
   * on the hash, count shared hashes per pair (every true pair at any
   * positive threshold shares a shingle, so no pair is lost), then one
   * arithmetic Jaccard from the shared count and the two set sizes.
   * Cost is Σ bucket² over shingle-hash buckets of the PANEL — the
   * knob is the panel size, which is the audit's documented contract.
   * The candidate side is the production [[lshCandidates]] machinery
   * itself (same signatures, same banding, same skew cap), so the audit
   * measures the REAL config, not a reimplementation.
   */
  def minhashRecallAudit(panel: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    val hs = shingleTable(
      panel.select(col(idCol).as("id"), col(textCol).as("t")), "id", "t", shingleN)
      .select(col("id"), md5(col("s")).as("h")).distinct()
    val sizes = hs.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = hs.select(col("id").as("id1"), col("h"))
      .join(hs.select(col("id").as("id2"), col("h")), "h")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val cand = candidatesFromSig(minhashSig(panel, idCol, textCol, shingleN, k),
      k, bands, maxBucket).withColumn("found", lit(true))
    truth.join(cand, Seq("id1", "id2"), "left")
      .select(col("id1"), col("id2"), col("jaccard"),
        coalesce(col("found"), lit(false)).as("found"))
  }

  /**
   * Cross-corpus near-dedup — the dataset-MIXING gate: drop from
   * `incoming` every document whose true shingle-set Jaccard with ANY
   * `reference` document reaches `threshold` (dedup a crawl batch against
   * the curated store before mixing it in; dedup a new source against
   * what training already contains). Within-batch duplicates are
   * d1/[[minhashPairs]]'s job and are deliberately NOT touched here. Ids
   * across the two inputs must be disjoint.
   *
   * Scale shape: ONE LSH candidate pass over the union (the same
   * band-bucket machinery as [[minhashPairs]] — Σ bucket², never n·m),
   * with a 1-bit corpus tag riding the signature build INTO the band
   * self-join condition (`a._inc =!= b._inc`), so same-corpus pairs are
   * rejected inside the join and NEVER materialize as candidate rows —
   * on the operator's primary mixing workload that halves generated
   * pairs, and the verify join is sized to CROSS candidates only. The
   * tag also rides through verification, so the surviving incoming ids
   * fall straight out of the verified pairs: one anti-join, zero
   * membership-tag joins, and nothing assumes the incoming id set is
   * broadcastable. The skew cap is PER SIDE (each corpus' bucket
   * population counted separately on the same exchange, a bucket
   * dropped only when ONE side exceeds `maxBucket` by itself) — a
   * pathologically self-duplicated batch can no longer evict a mixed
   * bucket's true cross pairs, while per-bucket work stays bounded at
   * maxBucket². Remaining (intended) behavior: a side that IS
   * oversized alone still vanishes — observable via
   * [[droppedLshBuckets]] over that side (run d1/l1 on the batch
   * first, which mixing pipelines do anyway).
   *
   * Returns the SURVIVING `incoming` rows, schema unchanged.
   *
   * `checkDisjoint = true` runs an eager assertion that no id appears in
   * BOTH inputs before doing any work — an overlapping id silently
   * merges the two texts' shingles and inverts the cross/within
   * classification for its pairs, so when ids come from sources that
   * might collide, pay the one small semi-join job for the guarantee.
   */
  def crossDedup(incoming: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = 1000, checkDisjoint: Boolean = false): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    if (checkDisjoint) {
      val shared = incoming.select(col(idCol))
        .join(reference.select(col(idCol)), Seq(idCol), "left_semi").limit(5)
        .collect().map(_.get(0))
      require(shared.isEmpty,
        s"crossDedup requires disjoint ids; found in both inputs: ${shared.mkString(", ")}")
    }
    crossDedupPresigned(incoming, reference,
      minhashSignature(reference, idCol, textCol, shingleN, k),
      idCol, textCol, shingleN, k, bands, threshold, maxBucket)
  }

  /** The per-doc minhash signature table (id, m0..m{k−1}) — the
    * PERSISTABLE band index of a corpus. A repeatedly-queried reference
    * (a curated store an admission gate bands every trigger's slice
    * against — catalog s26) computes this ONCE, writes it next to the
    * store, and [[crossDedupPresigned]] reads it back, so per-trigger
    * dedup cost is the SLICE's signature build plus the bucket join,
    * never a re-shingle of the store. At scale the index row count is
    * the store's doc count × (k+1) ints — parquet-tiny next to the
    * text it indexes — and append-only stores extend it incrementally
    * (signatures are per-doc, so new docs append their rows). */
  def minhashSignature(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    minhashSig(corpus, idCol, textCol, shingleN, k)

  /** [[crossDedup]] with the REFERENCE side's signatures precomputed
    * (a [[minhashSignature]] table, typically read back from the
    * store's persisted band index): only the incoming slice is
    * shingled/signed; candidates band the two signature sets with the
    * per-side cap; verification re-reads TEXT only for candidate docs
    * (pairSides' broadcast-semi-join cut, candidate-sized on both
    * sides). Results are identical to [[crossDedup]] — signatures are
    * a pure per-doc function. */
  def crossDedupPresigned(incoming: DataFrame, reference: DataFrame,
      refSig: DataFrame, idCol: String, textCol: String, shingleN: Int,
      k: Int, bands: Int, threshold: Double, maxBucket: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    val incSig = minhashSig(
      incoming.select(col(idCol), col(textCol)).withColumn("_inc", lit(true)),
      idCol, textCol, shingleN, k, carry = Seq("_inc"))
    val sig = incSig.unionByName(refSig.withColumn("_inc", lit(false)))
    // exactly one side of each cross pair is incoming: that id, as a
    // pair-level column, rides through verification (carryPair) so the
    // drop set needs no membership join afterwards
    val cross = candidatesFromSig(sig, k, bands, maxBucket, tagCol = Some("_inc"))
      .select(col("id1"), col("id2"),
        when(col("tag1"), col("id1")).otherwise(col("id2")).as("_incid"))
    val union = taggedUnion(incoming, reference, idCol, textCol)
    val verified = pairSides(cross, union, idCol, textCol, carryPair = Seq("_incid"))(
      shingleHashSetFeature(_, shingleN))
      .filter(T.jaccard(col("f1"), col("f2")) >= threshold)
    val dropIds = verified.select(col("_incid").as("_did")).distinct()
    incoming.join(dropIds, col(idCol) === col("_did"), "left_anti")
  }

  /** The tagged (id, text, _inc) union both [[crossDedup]] stages read. */
  private def taggedUnion(incoming: DataFrame, reference: DataFrame,
      idCol: String, textCol: String): DataFrame =
    incoming.select(col(idCol), col(textCol), lit(true).as("_inc"))
      .unionAll(reference.select(col(idCol), col(textCol), lit(false).as("_inc")))

  /** [[crossDedup]]'s candidate stage, exposed for tests: cross-corpus
    * candidate pairs (id1, id2, tag1, tag2) over a `_inc`-tagged union —
    * each bucket emits only pairs across its two per-side lists, so every
    * returned pair has tag1 =!= tag2 and same-corpus pairs never
    * materialize. */
  private[graft] def crossCandidates(taggedUnion: DataFrame, idCol: String,
      textCol: String, shingleN: Int, k: Int, bands: Int,
      maxBucket: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    candidatesFromSig(
      minhashSig(taggedUnion, idCol, textCol, shingleN, k, carry = Seq("_inc")),
      k, bands, maxBucket, tagCol = Some("_inc"))
  }

  /**
   * Audit side-output for the LSH skew cap: the band buckets that
   * [[minhashPairs]]/[[crossDedup]] (same parameters, same population)
   * would DROP, as (b, bh, n_bucket) rows. The cap is a silent guard —
   * an over-popular bucket vanishes before pair generation, taking any
   * real near-dup pairs in it along — so pipelines that care (a
   * cross-dedup gate fed by a possibly self-duplicated batch, above all)
   * run this against the same input and alert/log when it is non-empty:
   * a handful of dropped buckets is boilerplate skew working as
   * designed; thousands means the cap is eating the dedup guarantee and
   * the batch needs a d1/l1 pass first. Cost: the shingle→signature→band
   * build plus one count per bucket — no pair emission, so it is always
   * cheaper than the dedup pass it audits.
   */
  def droppedLshBuckets(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into $bands bands")
    bandKeys(minhashSig(corpus, idCol, textCol, shingleN, k), k, bands, Nil)
      .groupBy("b", "bh").agg(count(lit(1)).as("n_bucket"))
      .filter(col("n_bucket") > maxBucket)
  }

  /**
   * Substring-SPAN dedup — the missing modality between document-level
   * near-dup (MinHash/SimHash/embedding: "these two DOCS are alike") and
   * boilerplate-unit removal ([[dropBoilerplateChunks]]: "this exact
   * UNIT is everywhere"): find long word spans SHARED between two
   * otherwise-distinct documents (the Lee et al. 2022 "Deduplicating
   * Training Data Makes Language Models Better" pattern — repeated
   * spans memorize; serious pipelines cut or collapse them). Two docs
   * share a span of `r + gramN − 1` consecutive words iff they share a
   * RUN of `r` consecutive word `gramN`-grams, so:
   *
   *  1. per-doc positional gram table (id, pos, md5(gram)) — built
   *     NARROW (projected split array + transform/slice + posexplode,
   *     the l1 discipline, zero shuffle);
   *  2. TWO-LEVEL skew guard before pair generation: grams present in
   *     more than `maxDocFreq` DISTINCT docs are dropped (the t6/l1
   *     semantic discipline — boilerplate phrasing must not pair every
   *     doc with every doc; the hot set is tiny by construction, so the
   *     anti-join is left to AQE to broadcast), AND gram buckets whose
   *     ROW occupancy exceeds `maxBucket` are dropped (a gram repeated
   *     k times INSIDE each of two docs still joins k² position pairs —
   *     intra-doc repetition, exactly the t10 class, survives a
   *     doc-frequency cap; the occupancy count is a window partitioned
   *     like the join keys, sharing the join's shuffle);
   *  3. ONE equi-shuffle keyed on the gram hash self-joins positions:
   *     (id1, id2, p1, p2) matches, cost Σ bucket² with bucket rows
   *     capped by the occupancy guard — never corpus², never k² on a
   *     self-repeating doc;
   *  4. runs via the islands encoding on the DIAGONAL p1 − p2 (a shared
   *     span advances both positions in lockstep): grp = p1 − rank
   *     within (pair, diag), one shuffle that the following run-length
   *     aggregation reuses (its keys extend the window's partitioning).
   *
   * Returns (id1, id2, span_words) for pairs whose longest run reaches
   * `minRunGrams` — span_words = run + gramN − 1 is the length of the
   * longest shared word span. Deterministic (md5 grams, integer
   * positions), so a SQL oracle replays it exactly (the l11 gate).
   */
  def sharedSpans(corpus: DataFrame, idCol: String, textCol: String,
      gramN: Int, minRunGrams: Int, maxDocFreq: Long,
      maxBucket: Int = 1000): DataFrame = {
    require(gramN >= 1 && minRunGrams >= 1, "gramN and minRunGrams must be positive")
    val parts = graft.config.Knobs.amplifiedShufflePartitions(corpus.sparkSession)
    val ws = corpus.select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= gramN)
    val g = ws.select(col("id"),
      posexplode(transform(sequence(lit(1), size(col("ws")) - (gramN - 1)),
        i => md5(array_join(slice(col("ws"), i, lit(gramN)), " ")))).as(Seq("pos", "gh")))
    val hot = g.groupBy("gh").agg(countDistinct(col("id")).as("df"))
      .filter(col("df") > maxDocFreq).select("gh")
    // explicit partition count on the pair join's exchange: the gram
    // table's BYTES are small at fixture scale, so AQE would coalesce
    // the O(sum bucket^2) pair stage onto one task (the l1 lesson).
    // The row-occupancy window partitions like the join keys, so cap,
    // filter and both join sides hang off this one exchange.
    val kept = g.join(hot, Seq("gh"), "left_anti")
      .repartition(parts, col("gh"))
      .withColumn("n_bucket", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("n_bucket") <= maxBucket)
      .drop("n_bucket")
    val m = kept.as("a").join(kept.as("b"),
        col("a.gh") === col("b.gh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.pos").as("p1"), col("b.pos").as("p2"))
    val wIsl = Window.partitionBy("id1", "id2", "diag").orderBy("p1")
    val runs = m.withColumn("diag", col("p1") - col("p2"))
      .withColumn("grp", col("p1") - row_number().over(wIsl))
      .groupBy("id1", "id2", "diag", "grp").agg(count(lit(1)).as("run"))
    runs.groupBy("id1", "id2").agg(max(col("run")).as("mr"))
      .filter(col("mr") >= minRunGrams)
      .select(col("id1"), col("id2"), (col("mr") + (gramN - 1)).as("span_words"))
  }

  /** 64 per-bit vote sums (id, v0..v63): one md5 per token, bit j votes +1
    * iff bit (8 >> (j%4)) of hex nibble j/4 of md5(token) is set — fully
    * codegen'd SUM aggregates with map-side partial aggregation, one
    * shuffle on the doc id (Charikar 2002). */
  private def simhashVotes(corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.plans.VectorExpressions.ensureRegistered(corpus.sparkSession)
    // the native prefix-long carries the 64 vote bits of md5(tok) in one
    // value: bit j (0 = MSB) == the oracle's nibble test `(hex nibble
    // j/4+1) & (8 >> j%4)`. The previous form parsed 16 conv(substring)
    // nibbles out of the 32-char hex per TOKEN — the map stage's
    // dominant cost at sf0.1.
    val toks = corpus
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("id"), call_function("graft_md5_prefix64", col("tok")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), 63 - j).bitwiseAND(lit(1L)) =!= 0, 1)
        .otherwise(-1)).as(s"v$j")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
  }

  /** 64-bit SimHash fingerprint per document as a '0'/'1' bitstring
    * (readable form; the pair generator uses the int-block form). */
  def simhashFingerprints(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashVotes(corpus, idCol, textCol)
      .select(col("id"),
        concat((0 until 64).map(j =>
          when(col(s"v$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))

  /** Hamming distance between two equal-length '0'/'1' bitstrings — the
    * READABLE REFERENCE FORM, kept only for spec-level checks against
    * [[simhashFingerprints]]. NOT a hot-path primitive: it expands to a
    * `bits`-term substring chain; the pair generator ([[simhashPairs]])
    * instead carries the fingerprint as 4 small ints and computes hamming
    * as four codegen'd `bit_count(xor)`s. Use that form at scale. */
  def hammingDist(f1: Column, f2: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(substring(f1, i + 1, 1) =!= substring(f2, i + 1, 1), 1).otherwise(0))
      .reduce(_ + _)

  /**
   * SimHash near-duplicate pairs with hamming distance <= `maxHamming`
   * (<= 3 by default) via the 4-block permutation scheme: split the 64-bit
   * fingerprint into 4 16-bit blocks; by pigeonhole, any pair within
   * hamming 3 agrees exactly on at least one block, so candidates are a
   * shuffle on (block index, block value) — Σ bucket², never n².
   *
   * The fingerprint travels as 4 SMALL INTS (bit i of block b = bit 16b+i
   * set iff vote > 0), so bucket keys are int comparisons and the hamming
   * of a pair is four codegen'd `bit_count(xor)`s — no 64-char strings
   * shuffle through the candidate join on a skewed corpus.
   */
  def simhashPairs(corpus: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val blockCols = (0 until 4).map { b =>
      (0 until 16).map(i =>
        when(col(s"v${16 * b + i}") > 0, lit(1 << i)).otherwise(lit(0)))
        .reduce(_ + _).as(s"b$b")
    }
    val fp = simhashVotes(corpus, idCol, textCol).select(col("id") +: blockCols: _*)
    blockPigeonholePairs(fp, nBlocks = 4, maxHamming, maxBucket)
  }

  /**
   * Shared pigeonhole pair generator over int-block fingerprints: `fp`
   * is (id, b0..b{nBlocks-1}); by pigeonhole any pair within hamming
   * (nBlocks − 1) agrees exactly on ≥ 1 block, so candidates are a
   * shuffle on (block index, block value) — Σ bucket², never n². Bucket
   * populations above `maxBucket` are dropped (the l1 skew-cap
   * discipline); hamming is nBlocks codegen'd `bit_count(xor)`s.
   */
  private def blockPigeonholePairs(fp: DataFrame, nBlocks: Int,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming < nBlocks,
      s"pigeonhole completeness needs maxHamming < nBlocks ($maxHamming >= $nBlocks)")
    val bCols = (0 until nBlocks).map(b => col(s"b$b"))
    val blocks = fp.select(col("id") +: bCols :+
      posexplode(array(bCols: _*)).as(Seq("blk", "bv")): _*)
    val capped = blocks
      .withColumn("n_bucket", count(lit(1)).over(Window.partitionBy("blk", "bv")))
      .filter(col("n_bucket") <= maxBucket)
      .drop("n_bucket")
    val hamming = (0 until nBlocks).map(b =>
      bit_count(col(s"a.b$b").bitwiseXOR(col(s"b.b$b")))).reduce(_ + _).cast("int")
    capped.as("a")
      .join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Perceptual-hash near-duplicate pairs over a binary media column:
   * fingerprint = the native 64-bit block-mean hash
   * ([[graft.plans.MediaOps.blockMeanBits]] — one O(bytes) pass per
   * payload, codegen-friendly), pairs within hamming <= `maxHamming`
   * (<= 7: the 8-block pigeonhole is complete for 7) via the same
   * banded candidate join SimHash uses — never an all-pairs scan.
   *
   * Scale note: 8-bit blocks give 256 bucket values per band, so
   * unrelated-pair collision chance is ~nBlocks/256 per pair — right
   * for ~10^6-payload stores; a larger corpus wants a wider phash
   * (256-bit, 16-bit blocks) — same plan, different constants.
   */
  def phashPairs(media: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 7, maxBucket: Int = 10000): DataFrame = {
    graft.plans.VectorExpressions.ensureRegistered(media.sparkSession)
    val fp = media
      .select(col(idCol).as("id"),
        call_function("graft_blockmean_bits", col(payloadCol)).as("bb"))
      .select(col("id") +:
        (0 until 8).map(j => element_at(col("bb"), j + 1).as(s"b$j")): _*)
    blockPigeonholePairs(fp, nBlocks = 8, maxHamming, maxBucket)
  }

  /** Character n-gram Jaccard for candidate pairs (verification primitive). */
  def ngramJaccard(pairs: DataFrame, text1: Column, text2: Column, n: Int): DataFrame =
    pairs.withColumn("jaccard", T.jaccard(T.charNgrams(text1, n), T.charNgrams(text2, n)))

  /**
   * Global boilerplate-unit removal (the C4/RefinedWeb line-dedup step):
   * split every document into ordered units — here fixed `chunkWords`-word
   * chunks, since the corpus has no newlines; swap the chunker for a line
   * split on real text — count each unit's EXACT occurrences across the
   * whole corpus, drop units occurring more than `maxFreq` times
   * (navigation headers, license banners, templates), and reassemble the
   * surviving units in document order. Documents losing every unit drop
   * out entirely.
   *
   * Scale shape: the frequency count shuffles ONLY `md5(chunk)` — a fixed
   * 32-byte key with map-side partial aggregation, never the raw unit text
   * — and is then filtered to the units OVER the cap. That hot set is
   * usually tiny (only units repeated > maxFreq times survive), so the
   * anti-join is left to Catalyst/AQE, which broadcasts it at runtime when
   * it fits and the corpus-side chunk table never shuffles; a pathological
   * corpus (low maxFreq + highly repetitive text) degrades gracefully to a
   * shuffle join instead of OOMing the driver on a forced broadcast. One
   * groupBy on the doc id reassembles survivors.
   */
  def dropBoilerplateChunks(corpus: DataFrame, idCol: String, textCol: String,
      chunkWords: Int, maxFreq: Long): DataFrame = {
    val ws = corpus
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) > 0)
    val nChunks = ((size(col("ws")) + chunkWords - 1) / chunkWords).cast("int")
    val chunked = ws.select(col("id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(col("ws"), i * chunkWords + 1, lit(chunkWords)), " ")))
        .as(Seq("cidx", "chunk")))
    val hot = chunked
      .groupBy(md5(col("chunk")).as("ch"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxFreq)
      .select("ch")
    val kept = chunked.join(hot, md5(col("chunk")) === col("ch"), "left_anti")
    kept.groupBy("id")
      .agg(sort_array(collect_list(struct(col("cidx"), col("chunk")))).as("cs"))
      .select(col("id"),
        array_join(transform(col("cs"), s => s.getField("chunk")), " ").as("text_clean"),
        size(col("cs")).cast("bigint").as("n_chunks_kept"))
  }

  /**
   * Connected components over near-duplicate pairs — the step that turns
   * the pair outputs (minhashPairs, simhashPairs, embeddingNearDups,
   * Enrich.fuzzySelfMatch) into dedup DECISIONS: every node gets its
   * component's minimum id as `component_id` (the canonical survivor),
   * including singletons (component_id = own id).
   *
   * Each round updates
   *   comp(v) <- min(comp(v), min over neighbors comp(u), comp(comp(v)))
   * — a neighbor-min hop plus a pointer jump (hash-to-min family), so
   * accumulated reach roughly doubles per round and convergence takes
   * O(log diameter) rounds. Min-label updates are monotone and only ever
   * follow real edges, so labels can never cross components; the result
   * is deterministic at any parallelism.
   *
   * This is the engine's ONE iterative operator, and it uses the two
   * tools iteration genuinely requires (as GraphX/Pregel does):
   *  - an EAGER checkpoint per round — without lineage truncation
   *    the logical plan re-embeds the previous round's tree several
   *    times per round, growing ~3^rounds (analysis alone hangs);
   *  - a driver-side convergence loop — bounded at O(log diameter)
   *    ROUNDS of fully distributed jobs (never per-row work): the
   *    fixpoint test is "sum of labels unchanged", valid because labels
   *    only ever decrease.
   *
   * Checkpoint durability is the caller's failure-domain choice:
   * `checkpointDir = None` (default) uses localCheckpoint — executor
   * block storage, the right call for single-node/local runs — while a
   * set `checkpointDir` uses RELIABLE `checkpoint()` into that
   * (cluster-visible, e.g. HDFS/S3) directory. On a 1000-executor run
   * local checkpoints are a liability: truncated lineage lives only in
   * executor storage, so ONE lost executor mid-loop kills the job with
   * no recomputation path; reliable checkpoints survive executor loss.
   *
   * If the loop exhausts `maxRounds` without reaching the fixpoint the
   * labels are PARTIAL (some nodes still carry a non-minimal component
   * id), so this throws rather than returning silently wrong decisions —
   * raise `maxRounds` (rounds needed ≈ log2(component diameter)).
   *
   * Scale shape per round: one shuffle join of the (id, comp) long-pair
   * table with the symmetrized edge list + a map-side-combined groupBy
   * min, and one self-join for the pointer jump — the standard cost of
   * distributed CC (large-star/small-star family), linear per round.
   */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      id1: String = "id1", id2: String = "id2", maxRounds: Int = 16,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxRounds >= 1, "at least one propagation round")
    val sc = nodes.sparkSession.sparkContext
    // r17 (verdict item 3): `spark.graft.checkpointDir` on the session
    // opts every round save into RELIABLE checkpointing — executor-loss-
    // safe round state at scale; unset keeps localCheckpoint (the local
    // bench default). The explicit parameter still wins when passed.
    val effDir = checkpointDir.orElse(
      nodes.sparkSession.conf.getOption("spark.graft.checkpointDir"))
    effDir.foreach(sc.setCheckpointDir)
    // Each eager localCheckpoint PERSISTS its blocks for the life of the
    // session; without explicit cleanup every round of every call pins
    // another label table in the block manager (and its delayed GC-driven
    // cleanup lands inside whatever runs next — measured as multi-second
    // noise on later queries in a bench pass). Track the RDD ids each
    // save() persists (id-set diff; this operator is single-threaded) and
    // drop a round's blocks as soon as the NEXT eager checkpoint exists.
    def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    def save(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = persistedIds
      try {
        val out = if (effDir.isDefined) df.checkpoint() else df.localCheckpoint()
        (out, persistedIds -- before)
      } catch {
        // an eager checkpoint PERSISTS before its job runs — a failing
        // save can leave blocks behind with no caller to track them
        case e: Throwable => drop(persistedIds -- before); throw e
      }
    }
    var edgeIds = Set.empty[Int]
    var labelIds = Set.empty[Int]
    // any failure path (a save, a round's job dying, the non-convergence
    // throw) returns no DataFrame that could need the tracked blocks —
    // drop them on the way out or they pin block-manager memory for the
    // life of the session
    try {
      val edges = { val s = save(pairs.select(col(id1).as("src"), col(id2).as("dst"))
          .unionAll(pairs.select(col(id2).as("src"), col(id1).as("dst"))))
        edgeIds = s._2; s._1 }
      var labels = { val s = save(nodes.select(col(idCol).as("id"), col(idCol).as("comp")))
        labelIds = s._2; s._1 }
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("comp").cast("decimal(38,0)"))).collect().head.getDecimal(0)
      var prevSum = labelSum(labels)
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("dst_comp")), "dst")
          .groupBy(col("src").as("id")).agg(min("dst_comp").as("nbr_comp"))
        val jumped = labels
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        val (nextLabels, nextIds) = save(jumped
          .join(jumped.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp")))
        drop(labelIds) // superseded round — next checkpoint is already eager/materialized
        labels = nextLabels
        labelIds = nextIds
        val s = labelSum(labels)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        round += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge within maxRounds=$maxRounds " +
            "(labels would be silently partial); raise maxRounds — rounds needed " +
            "grows with log2(component diameter)")
      drop(edgeIds) // final labels are materialized; the edge list is dead
      // the FINAL label checkpoint stays persisted — the returned DataFrame
      // reads from it (truncated lineage has no recompute path)
      labels.select(col("id"), col("comp").as("component_id"))
    } catch {
      case e: Throwable =>
        drop(edgeIds)
        drop(labelIds)
        throw e
    }
  }

  /**
   * Embedding-cosine near-dup pairs, blocked by `blockKey` (a Column over
   * the embedding, normally [[graft.functions.vectors.signBucket]]).
   * Candidates exist only within a block; with a 2^bits sign bucket the
   * block count GROWS with the corpus (unlike any fixed attribute key), so
   * in-block pair counts stay bounded at 100-TB scale.
   */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
      blockKey: Column, threshold: Double): DataFrame =
    nearDupPairsInBlocks(emb.withColumn("_blk", blockKey), idCol, vecCol,
      "_blk", threshold)

  /** [[embeddingNearDups]] over a PRECOMPUTED block column — for block
    * keys that are not pure functions of the vector (above all an IVF
    * cell assignment, [[semanticDedup]]'s blocking). Same two-phase
    * scoring: (1) the cheap native double cosine (graft.plans
    * .FloatVecDot, one codegen'd loop) over every in-block pair with a
    * 0.01 safety margin (float accumulation error over 64 dims is
    * ~1e-13, so no true near-dup can be lost); (2) the exact decimal
    * cosine (FloatVecDotExact) only for the tiny surviving set, with
    * the exact norms computed per-row before the join. Output is
    * identical to scoring every pair exactly, at ~1/100 the compute. */
  def nearDupPairsInBlocks(emb: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    graft.plans.VectorExpressions.ensureRegistered(emb.sparkSession)
    def dot(x: Column, y: Column) = call_function("graft_dot", x, y)
    def dotX(x: Column, y: Column) = call_function("graft_dot_exact", x, y)
    val a = emb.select(col(idCol).as("id1"), col(blockCol).as("blk1"),
      col(vecCol).as("v1"), dot(col(vecCol), col(vecCol)).as("nsq1"),
      dotX(col(vecCol), col(vecCol)).as("xnsq1"))
    val b = emb.select(col(idCol).as("id2"), col(blockCol).as("blk2"),
      col(vecCol).as("v2"), dot(col(vecCol), col(vecCol)).as("nsq2"),
      dotX(col(vecCol), col(vecCol)).as("xnsq2"))
    val approx = dot(col("v1"), col("v2")) / sqrt(col("nsq1") * col("nsq2"))
    a.join(b, col("blk1") === col("blk2") && col("id1") < col("id2"))
      .filter(col("nsq1") === 0.0 || col("nsq2") === 0.0 || approx >= threshold - 0.01)
      .select(col("id1"), col("id2"),
        V.cosineFromParts(dotX(col("v1"), col("v2")),
          col("xnsq1"), col("xnsq2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, "SemDeDup: Data-
   * efficient learning at web-scale through semantic deduplication"):
   * cluster the embedding space with a coarse quantizer, then within
   * each cluster keep ONE representative of every tight cosine
   * neighborhood — the curation step that removes semantically
   * redundant documents (same content, different words), which no
   * lexical dedup (MinHash/SimHash/spans) can see.
   *
   * Decision rule, deterministic by construction: a document is DROPPED
   * iff some SMALLER-id document in its cell has cosine ≥ `threshold`
   * with it (the id-ordered greedy sweep — survivors are each
   * neighborhood's minimum id; a chain a~b~c with a<b<c and no a~c
   * still keeps only `a`, because b's drop does not resurrect c —
   * exactly the greedy "keep the first seen" semantics).
   *
   * Scale shape: assignment is the IVF build (one broadcast argmin per
   * vector, [[graft.operators.Ann.assignCells]] — the SAME quantizer a
   * 100-TB corpus already trained for its ANN index is reused as a
   * curation tool); pair generation is blocked by cell
   * ([[nearDupPairsInBlocks]] two-phase cheap-then-exact), so cost is
   * Σ cell², never n² — and the cell count C is a free knob that grows
   * with the corpus. One anti-join returns survivors.
   *
   * Returns the surviving (idCol, cell) rows.
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = Ann.assignCells(
      emb.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")), centroids)
    val pairs = nearDupPairsInBlocks(assigned, "vec_id", "embedding", "cell", threshold)
    val drops = pairs.select(col("id2").as("_dup_id")).distinct()
    assigned.join(drops, col("vec_id") === col("_dup_id"), "left_anti")
      .select(col("vec_id").as(idCol), col("cell"))
  }
}
