package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{RankingProfile, RankingWeights}
import graft.functions.{vectors => V}
import graft.operators.{Ann, Dedup, Enrich, Profile, Ranker, Report, Upsert}

class OperatorsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("Dedup.exact groups by content hash with min-id survivor") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "content")
    val got = Dedup.exact(df, "id", "content")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((md5hex("x"), 1L, 2L), (md5hex("y"), 3L, 1L)))
  }

  test("leakage split: component members share a split; naive per-id split straddles") {
    import graft.operators.Curate
    // per-id hash fraction replay (Curate.hashFraction): pick two ids the
    // NAIVE split provably separates, then give them identical text
    def frac(key: String): Double =
      java.lang.Long.parseLong(md5hex(key).take(8), 16).toDouble / 4294967296.0
    val salt = "s0"
    val id1 = (1L to 500L).find(i => frac(s"$i|$salt") < 0.8).get
    val id2 = (1L to 500L).find(i => frac(s"$i|$salt") >= 0.8).get
    val doc = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((id1, doc), (id2, doc),
      (499999L, "completely different words about spark query engines at scale"))
      .toDF("id", "t")
    val pairs = Dedup.minhashPairs(corpus, "id", "t",
      shingleN = 3, k = 8, bands = 4, threshold = 0.9)
    val labels = Dedup.connectedComponents(corpus.select("id"), "id", pairs)
    val cuts = Seq(0.8 -> "train", 0.9 -> "val")
    val out = Curate.assignSplit(
      Curate.assignSplit(labels, "component_id", salt, cuts, "test"),
      "id", salt, cuts, "test", outCol = "naive_split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    val (c1, s1, n1) = out(id1)
    val (c2, s2, n2) = out(id2)
    assert(c1 == c2 && c1 == math.min(id1, id2)) // one component, min label
    assert(s1 == s2)                             // group split: atomic, no straddle
    assert(n1 != n2)                             // naive split: the leak c1 commits
    assert(out(499999L)._1 == 499999L)           // unrelated doc: own component
  }

  test("minhashPairs finds identical docs and not dissimilar ones") {
    val doc = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words about spark query engines at scale"
    val corpus = Seq((1L, doc), (2L, doc), (3L, other)).toDF("id", "t")
    val got = Dedup.minhashPairs(corpus, "id", "t",
      shingleN = 3, k = 8, bands = 4, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("crossDedup drops incoming near-dups of the store; within-batch dups survive") {
    val store = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("id", "t")
    val incoming = Seq(
      // near-dup of store doc 1 (one word appended) -> dropped
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      // unrelated -> survives
      (101L, "completely different words about spark query engines at scale"),
      // identical to 101: a WITHIN-BATCH dup, deliberately not this
      // operator's job -> survives
      (102L, "completely different words about spark query engines at scale"))
      .toDF("id", "t")
    val got = Dedup.crossDedup(incoming, store, "id", "t",
      shingleN = 3, k = 8, bands = 4, threshold = 0.8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(101L, 102L))
    // colliding ids silently corrupt the cross/within classification —
    // the opt-in guard must fail fast and name the offenders
    val colliding = incoming.withColumn("id", lit(1L))
    val e = intercept[IllegalArgumentException] {
      Dedup.crossDedup(colliding, store, "id", "t",
        shingleN = 3, k = 8, bands = 4, threshold = 0.8, checkDisjoint = true)
    }
    assert(e.getMessage.contains("disjoint") && e.getMessage.contains("1"))
  }

  test("crossDedup per-side cap: a self-duplicated batch cannot evict its true cross pairs") {
    val doc = "the quick brown fox jumps over the lazy dog again and again"
    val store = Seq((1L, doc)).toDF("id", "t")
    // 9 identical contaminated copies: every one shares the store doc's
    // band buckets, so the UNION population is 10 — a union cap of 9
    // would drop the bucket and let all 9 contaminated docs through.
    // Per-side: n_inc = 9 <= 9 and n_ref = 1 <= 9, the pairs generate,
    // and every contaminated copy drops.
    val incoming = (100L to 108L).map(i => (i, doc + " today")).toDF("id", "t")
    val got = Dedup.crossDedup(incoming, store, "id", "t",
      shingleN = 3, k = 8, bands = 4, threshold = 0.8, maxBucket = 9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.isEmpty, s"contaminated batch must fully drop, kept: $got")
    // an incoming side oversized BY ITSELF still vanishes (the bound
    // that keeps per-bucket work at maxBucket^2)
    val kept = Dedup.crossDedup(incoming, store, "id", "t",
      shingleN = 3, k = 8, bands = 4, threshold = 0.8, maxBucket = 8)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == (100L to 108L).toSet)
  }

  test("crossCandidates: within-side pairs never materialize; cross set matches the union run") {
    val doc1 = "the quick brown fox jumps over the lazy dog again and again"
    val doc2 = "completely different words about spark query engines at scale"
    // both sides carry internal dup pairs (1,2) and (100,101); the tagged
    // join must emit ONLY the cross pairs, not emit-then-discard
    val store = Seq((1L, doc1), (2L, doc1), (3L, doc2)).toDF("id", "t")
    val incoming = Seq((100L, doc1), (101L, doc1), (102L, doc2)).toDF("id", "t")
    val union = incoming.select(col("id"), col("t"), lit(true).as("_inc"))
      .unionAll(store.select(col("id"), col("t"), lit(false).as("_inc")))
    val tagged = Dedup.crossCandidates(union, "id", "t",
      shingleN = 3, k = 8, bands = 4, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(tagged.nonEmpty)
    assert(tagged.forall { case (_, _, t1, t2) => t1 != t2 },
      s"same-corpus pair materialized: ${tagged.mkString(", ")}")
    // the cross candidate SET equals the untagged union run's cross subset
    // (the oracle's formulation) — the cap population is the union's
    val untaggedCross = Dedup.lshCandidates(
      incoming.unionAll(store), "id", "t", 3, 8, 4, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a >= 100L) != (b >= 100L) }.toSet
    assert(tagged.map(t => (t._1, t._2)).toSet == untaggedCross)
  }

  test("MinHash over a persisted input: one signature aggregate per input side, same results") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // Adaptive execution wraps each reference to a cached input in its own
    // TableCacheQueryStage and never reuses an exchange above two of them,
    // so a plan that references the signature table more than once computes
    // it more than once. Only the final aggregate outputs `m0` (the partial
    // one outputs min buffers); reused exchanges are leaves and not counted.
    object Stages extends AdaptiveSparkPlanHelper
    def sigAggs(df: DataFrame): Int = Stages.collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.output.exists(_.name == "m0") => a
    }.size
    val vocab = (0 until 60).map(i => s"w$i")
    // 12 families: a base doc, a one-word edit and an appended copy
    val rows = (0 until 12).flatMap { f =>
      val base = (0 until 14).map(j => vocab((f * 7 + j * j) % vocab.size))
      Seq(base, base.updated(5, "edit"), base :+ "tail")
        .zipWithIndex.map { case (ws, v) => ((f * 3 + v).toLong, ws.mkString(" ")) }
    }
    def build(): DataFrame = rows.toDF("id", "t")
    val cached = build().persist()
    try {
      cached.count()
      def pairsOf(c: DataFrame) = Dedup.minhashPairs(c, "id", "t",
        shingleN = 3, k = 16, bands = 8, threshold = 0.5)
      val onCache = pairsOf(cached)
      val got = onCache.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(sigAggs(onCache) == 1, s"minhashPairs:\n${onCache.queryExecution.executedPlan}")
      assert(got.nonEmpty)
      assert(got == pairsOf(build()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      def crossOf(c: DataFrame) = Dedup.crossDedup(
        c.filter(col("id") % 3 =!= 0), c.filter(col("id") % 3 === 0), "id", "t",
        shingleN = 3, k = 16, bands = 8, threshold = 0.5)
      val crossCached = crossOf(cached)
      val kept = crossCached.collect().map(_.getLong(0)).toSet
      assert(sigAggs(crossCached) == 2, s"crossDedup:\n${crossCached.queryExecution.executedPlan}")
      assert(kept.size < rows.size * 2 / 3, "some incoming near-copies must drop")
      assert(kept == crossOf(build()).collect().map(_.getLong(0)).toSet)
    } finally cached.unpersist()
  }

  test("sharedSpans: longest shared word span via gram runs; frequency cap; no short-span noise") {
    val corpus = Seq(
      (1L, "a1 b1 c d e f g h1 i1"), // shares "c d e f g" (5 words) with 2
      (2L, "x1 y1 c d e f g z1"),
      (3L, "p1 q1 c d r1 s1"), // shares only 2 words with 1/2 -> no 3-gram
      (4L, "m1 m2 m3 m4")) // no overlap
      .toDF("id", "t")
    val got = Dedup.sharedSpans(corpus, "id", "t",
      gramN = 3, minRunGrams = 3, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // run of 3 grams ("c d e","d e f","e f g") -> span = 3 + 3 - 1 = 5
    assert(got.toSeq == Seq((1L, 2L, 5L)))
    // the shared grams sit in > maxDocFreq docs -> dropped, no pairs
    val viral = (1L to 5L).map(i => (i, s"w$i common1 common2 common3 common4 tail$i"))
      .toDF("id", "t")
    assert(Dedup.sharedSpans(viral, "id", "t", 3, 1, maxDocFreq = 4).count() == 0)
    assert(Dedup.sharedSpans(viral, "id", "t", 3, 1, maxDocFreq = 10).count() == 10)
    // intra-doc repetition: a gram repeated k times in each of TWO docs
    // passes any doc-frequency cap but joins k^2 position pairs — the
    // ROW-occupancy cap is what stops it (here bucket = 12 rows > 10)
    val loopy = Seq((1L, Seq.fill(8)("r1 r2 r3").mkString(" ")),
      (2L, Seq.fill(8)("r1 r2 r3").mkString(" "))).toDF("id", "t")
    assert(Dedup.sharedSpans(loopy, "id", "t", 3, 1, maxDocFreq = 10,
      maxBucket = 10).count() == 0)
    assert(Dedup.sharedSpans(loopy, "id", "t", 3, 1, maxDocFreq = 10,
      maxBucket = 100).count() == 1)
  }

  test("assertNoBucketedScanBelowShuffle: fires on a re-shuffled bucketed scan, passes clean") {
    import graft.sources.Sink
    spark.sql("DROP TABLE IF EXISTS guard_probe")
    Sink.writeBucketed((1L to 50L).map(i => (i, i * 2.0)).toDF("k", "v"),
      "guard_probe", "k", 4)
    val t = spark.table("guard_probe")
    Sink.assertNoBucketedScanBelowShuffle(t.filter(col("v") > 0)) // no shuffle: ok
    // grouping on a NON-bucket column forces an exchange over the scan —
    // the guard must see it through the AQE wrapper (the executed plan
    // is an AdaptiveSparkPlanExec leaf; a naive collect sees nothing)
    val e = intercept[IllegalStateException] {
      Sink.assertNoBucketedScanBelowShuffle(t.groupBy("v").count())
    }
    assert(e.getMessage.contains("bucketed base"))
    // grouping on the bucket column itself needs no exchange
    Sink.assertNoBucketedScanBelowShuffle(t.groupBy("k").count())
  }

  test("droppedLshBuckets surfaces what the skew cap eats; empty when nothing is dropped") {
    val doc = "aa bb cc dd ee ff gg"
    val corpus = (1L to 6L).map(i => (i, doc)).toDF("id", "t")
    // cap 5 < 6 identical docs: every band bucket is dropped (4 bands)
    val dropped = Dedup.droppedLshBuckets(corpus, "id", "t", 3, 8, 4, maxBucket = 5)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(dropped.length == 4 && dropped.forall(_._2 == 6L))
    assert(Dedup.droppedLshBuckets(corpus, "id", "t", 3, 8, 4, maxBucket = 1000).count() == 0)
  }

  test("amplifiedShufflePartitions knob widens the pre-amplification exchanges") {
    val knob = "spark.graft.amplifiedShufflePartitions"
    val corpus = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee ff")).toDF("id", "t")
    def bandWidth(): Int = {
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      Dedup.lshCandidates(corpus, "id", "t", 3, 8, 4, maxBucket = 1000)
        .queryExecution.executedPlan
        .collect { case e: ShuffleExchangeLike => e.outputPartitioning.numPartitions }.max
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // AQE wraps the plan tree
    try {
      assert(bandWidth() == spark.sessionState.conf.numShufflePartitions)
      spark.conf.set(knob, "7")
      try assert(bandWidth() == 7)
      finally spark.conf.unset(knob)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("lshCandidates: bucket cap drops over-popular buckets") {
    val doc = "aa bb cc dd ee ff gg"
    val corpus = (1L to 6L).map(i => (i, doc)).toDF("id", "t")
    val uncapped = Dedup.lshCandidates(corpus, "id", "t", 3, 8, 4, maxBucket = 1000)
    assert(uncapped.count() == 15) // all 6-choose-2 pairs of identical docs
    val capped = Dedup.lshCandidates(corpus, "id", "t", 3, 8, 4, maxBucket = 5)
    assert(capped.count() == 0) // every bucket holds all 6 docs > cap
  }

  test("narrow gram builds: no Exchange below the first partial aggregation") {
    // The shingle/gram build must be map-side only (projected split array +
    // transform/slice), so the signature minima / dictionary matches
    // partial-aggregate BEFORE the one shuffle. A window-`lead` build would
    // plant an Exchange under the first aggregate — at 100 TB that is the
    // difference between shuffling the tokenized corpus and shuffling
    // per-doc signatures.
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def firstAggIsMapSide(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect { case a: BaseAggregateExec => a }.exists { agg =>
        agg.children.exists { c =>
          c.collectFirst { case g: GenerateExec => g }.isDefined &&
            c.collectFirst { case e: ShuffleExchangeLike => e }.isEmpty
        }
      }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val corpus = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee ff")).toDF("id", "t")
      assert(firstAggIsMapSide(
        Dedup.minhashPairs(corpus, "id", "t", shingleN = 3, k = 8, bands = 4, threshold = 0.5)),
        "minhash signature minima must partial-aggregate over a shuffle-free shingle build")
      val docs = Seq((1L, "knows spark sql well"), (2L, "plain text")).toDF("doc_id", "text")
      assert(firstAggIsMapSide(
        Enrich.extractSkills(spark, docs, "doc_id", "text",
          Seq("spark sql" -> "spark", "etl" -> "etl"))),
        "skills extraction must aggregate matches over a shuffle-free gram build")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("simhashFingerprints match the reference bit derivation") {
    val docs = Seq((1L, "spark table scan"), (2L, "fast stream join merge"), (3L, "x"))
    val got = Dedup.simhashFingerprints(docs.toDF("id", "t"), "id", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, t) =>
      val hashes = t.split(" ").toSeq.map(md5hex)
      val expect = (0 until 64).map { j =>
        val p = j / 4
        val mask = 8 >> (j % 4)
        val votes = hashes.map { h =>
          val nib = Integer.parseInt(h.substring(p, p + 1), 16)
          if ((nib & mask) != 0) 1 else -1
        }.sum
        if (votes > 0) '1' else '0'
      }.mkString
      assert(got(id) == expect, s"fingerprint of '$t'")
      assert(got(id).length == 64)
    }
  }

  test("hammingDist and simhashPairs (identical docs collapse at hamming 0)") {
    val hd = Seq(("0011", "0110")).toDF("a", "b")
      .select(Dedup.hammingDist(col("a"), col("b"), 4)).collect().head.getInt(0)
    assert(hd == 2)
    val corpus = Seq((1L, "one two three four five six"), (2L, "one two three four five six"),
      (3L, "totally unrelated content here now ok")).toDF("id", "t")
    val pairs = Dedup.simhashPairs(corpus, "id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("embeddingNearDups: sign-bucket blocking finds the planted near-dup") {
    val base = Seq.tabulate(8)(i => (i.toLong, Seq.tabulate(8)(j => (math.sin(i * 8 + j) * 2).toFloat)))
    val mutated = base.map { case (id, v) => (id + 100L, v.init :+ 0.0f) }
    val emb = (base ++ mutated).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      V.signBucket(col("embedding"), 4), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    base.foreach { case (id, v) =>
      val exp = refCosine(v, v.init :+ 0.0f)
      if (exp >= 0.9) assert(got.contains((id, id + 100L)), s"pair $id missing (cos=$exp)")
    }
  }

  test("semanticDedup keeps one representative per in-cell neighborhood; chains stay greedy") {
    // two well-separated anchors (cells), each with near-identical copies
    def v(seed: Int, eps: Float): Seq[Float] =
      if (seed == 0) Seq(1f, eps, 0f, 0f) else Seq(0f, 0f, 1f, eps)
    val emb = Seq(
      (1L, v(0, 0f)), (2L, v(0, 0.01f)), (3L, v(0, 0.02f)), // a ~ b ~ c chain
      (10L, v(1, 0f)), (11L, v(1, 0.015f)),
      (20L, Seq(0.7f, 0.7f, 0f, 0f))) // own direction, near cell 1 but not near-dup
      .toDF("vec_id", "embedding")
    val cents = Seq((1L, v(0, 0f)), (10L, v(1, 0f))).toDF("centroid_id", "embedding")
    val got = Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.999)
      .collect().map(_.getLong(0)).toSet
    // 2 and 3 both have cosine >= .999 with 1 (greedy min-id survivor);
    // 11 drops to 10; 20's cosine to 1 is ~0.707 -> survives
    assert(got == Set(1L, 10L, 20L))
  }

  test("Curate: hash fraction matches reference; split and mixture are deterministic") {
    import graft.operators.Curate
    def refFrac(key: String): Double =
      java.lang.Long.parseLong(md5hex(key).take(8), 16).toDouble / 4294967296.0
    val docs = (0L until 200L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val got = Curate.assignSplit(docs, "doc_id", "split0",
      Seq(0.8 -> "train", 0.9 -> "val"), "test")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    (0L until 200L).foreach { i =>
      val f = refFrac(s"$i|split0")
      val expect = if (f < 0.8) "train" else if (f < 0.9) "val" else "test"
      assert(got(i) == expect, s"split of $i (frac=$f)")
    }
    val sampled = Curate.mixtureSample(docs, "doc_id", "source",
      Seq("src0" -> 1.0, "src1" -> 0.0), 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sampled.count(_._2 == "src0") == 50, "rate 1.0 keeps every src0 row")
    assert(!sampled.exists(_._2 == "src1"), "rate 0.0 keeps nothing")
    sampled.filter(s => s._2 != "src0").foreach { case (id, src) =>
      assert(refFrac(s"$id|$src") < 0.5)
    }
  }

  test("repetitionSignals: duplicate and top-gram fractions match hand computation") {
    import graft.operators.Profile
    val docs = Seq(
      (1L, "a b a b a b"), // ws dup 4/6; g2: [ab,ba,ab,ba,ab] dup 3/5 top 3/5
      (2L, "x y z w"), // no repetition
      (3L, "q"), // single word: no 2-grams
      (4L, "  ")) // empty after norm
      .toDF("doc_id", "text")
    val got = Profile.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(5))).toMap
    assert(got(1L) == ((6L, 4.0 / 6.0, 3.0 / 5.0, 3.0 / 5.0)))
    assert(got(2L) == ((4L, 0.0, 0.0, 1.0 / 3.0))) // distinct 2-grams: top share 1/3
    assert(got(3L) == ((1L, 0.0, 0.0, 0.0)))
    assert(got(4L) == ((0L, 0.0, 0.0, 0.0)))
  }

  test("quotaSample: exact per-stratum quotas, deterministic ranks, small strata keep all") {
    val df = (1L to 20L).map(i => (i, if (i <= 12) "big" else if (i <= 18) "mid" else "tiny"))
      .toDF("id", "src")
    val got = graft.operators.Curate.quotaSample(df, "id", "src", "s0",
      Seq("big" -> 4, "mid" -> 2), defaultQuota = 5)
    val bySrc = got.collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2)))
      .groupBy(_._1)
    assert(bySrc("big").length == 4 && bySrc("mid").length == 2)
    assert(bySrc("tiny").length == 2) // stratum smaller than quota keeps all
    assert(bySrc.values.flatten.forall(t => t._3 >= 1))
    // deterministic: same rows win on a re-run
    val again = graft.operators.Curate.quotaSample(df, "id", "src", "s0",
      Seq("big" -> 4, "mid" -> 2), defaultQuota = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getInt(2))).toSet
    assert(again == bySrc.values.flatten.toSet)
  }

  test("quotaSample: bounded-heap path selects exactly the window path's rows") {
    // one giant stratum spread over several input partitions — the case
    // the heap pre-filter exists for — plus a small one and a quota-0 one
    val df = spark.range(0, 5000).repartition(8)
      .selectExpr("id",
        "CASE WHEN id % 50 = 0 THEN 'small' WHEN id % 50 = 1 THEN 'none' ELSE 'giant' END AS src")
    def run(heap: Option[Int]) = graft.operators.Curate.quotaSample(
        df, "id", "src", "salt9", Seq("giant" -> 100, "none" -> 0), defaultQuota = 7,
        heapThreshold = heap)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val window = run(None)
    val heap = run(Some(1000))
    assert(heap == window)
    assert(window.count(_._2 == "giant") == 100 && window.count(_._2 == "none") == 0)
    // quota above heapThreshold falls back to keep-all in the prefilter —
    // still identical selection
    assert(run(Some(50)) == window)
  }

  test("tokenBudgetSample invariants on randomized inputs: coverage, no-overshoot, prefix-closure") {
    import graft.operators.Curate
    val rnd = new scala.util.Random(42)
    // plain-Scala replica of Curate.hashFraction (md5 first 8 hex / 2^32)
    def frac(id: Long, salt: String): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id|$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0
    }
    for (c <- 1 to 4) {
      val salt = s"prop$c"
      val nSrc = 1 + rnd.nextInt(4)
      val rows = Seq.tabulate(250 + rnd.nextInt(150))(i =>
        (i.toLong, s"s${rnd.nextInt(nSrc)}", 1L + rnd.nextInt(30)))
      val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      val budgets = totals.keys.toSeq.sorted.map(s0 =>
        s0 -> rnd.nextLong(2 * totals(s0)))
      val p = if (rnd.nextBoolean()) Some(1 + rnd.nextInt(12)) else None
      val got = Curate.tokenBudgetSample(rows.toDF("id", "src", "tok").repartition(7),
          "id", "src", col("tok"), salt, budgets, 0L, p)
        .collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("src"), r.getAs[Long]("n_tokens")))
      for ((s0, b) <- budgets) {
        val selIds = got.filter(_._2 == s0).map(_._1).toSet
        val sum = got.filter(_._2 == s0).map(_._3).sum
        if (b >= totals(s0)) assert(sum == totals(s0), s"case $c src $s0: whole source must stay")
        else {
          assert(sum >= b, s"case $c src $s0: budget $b not covered (sum $sum)")
          // prefix-closure: the selection is exactly the shortest hash-order
          // prefix whose token sum reaches the budget (first-token rule)
          val ordered = rows.filter(_._2 == s0).sortBy(t => (frac(t._1, salt), t._1))
          var acc = 0L
          val wantIds = ordered.takeWhile { t => val in = acc < b; acc += t._3; in }
            .map(_._1).toSet
          assert(selIds == wantIds, s"case $c src $s0: not the hash-order prefix")
        }
      }
    }
  }

  test("tokenBudgetSample: distributed prefix-sum path is bit-identical to the window path") {
    import graft.operators.Curate
    // one giant source spread over several input partitions + a small one
    val df = spark.range(0, 4000).repartition(8)
      .selectExpr("id", "CASE WHEN id % 40 = 0 THEN 'small' ELSE 'giant' END AS src",
        "1 + id % 17 AS tok")
    def run(p: Option[Int]) = Curate.tokenBudgetSample(df, "id", "src",
        col("tok"), "ps0", Seq("giant" -> 9000L, "small" -> 100L), 0L, p)
      .select("id", "src", "n_tokens", "cum_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val window = run(None)
    assert(run(Some(8)) == window)   // same rows AND same cum_tokens
    assert(run(Some(1)) == window)   // degenerate single bucket
    assert(run(Some(64)) == window)  // many sparse buckets (some empty)
  }

  test("epochExpand: full epochs replicate whole source; rem=0 emits no partial; downsample == tokenBudgetSample") {
    import graft.operators.Curate
    val df = (1L to 10L).map(i => (i, if (i <= 5) "hot" else "cold", 10L))
      .toDF("id", "src", "tok")
    // hot at 5/2: total 50 tokens, budget 125 -> 2 full epochs + 25-token
    // partial; cold at 2/5: budget 20 -> 0 full + 20-token partial
    val got = Curate.epochExpand(df, "id", "src", col("tok"), "ep0",
      Seq("hot" -> ((5L, 2L))), (2L, 5L))
      .collect().map(r => (r.getAs[String]("src"), r.getAs[Long]("id"),
        r.getAs[Long]("epoch"))).toList
    val hot = got.filter(_._1 == "hot")
    // every hot row appears in epochs 0 and 1; the partial epoch 2 holds
    // the first 25 tokens (rows 1-3 in hash order: first-token rule
    // admits the 25-crossing row)
    assert(hot.count(_._3 == 0L) == 5 && hot.count(_._3 == 1L) == 5)
    assert(hot.count(_._3 == 2L) == 3)
    val cold = got.filter(_._1 == "cold")
    assert(cold.forall(_._3 == 0L) && cold.size == 2)
    // downsample regime must select exactly tokenBudgetSample's rows
    val viaBudget = Curate.tokenBudgetSample(df.filter(col("src") === "cold"),
      "id", "src", col("tok"), "ep0", Seq("cold" -> 20L), 0L)
      .collect().map(_.getLong(0)).toSet
    assert(cold.map(_._2).toSet == viaBudget)
    // exact-multiple boundary: 3/1 -> exactly 3 full epochs, zero partial
    val exact = Curate.epochExpand(df.filter(col("src") === "hot"),
      "id", "src", col("tok"), "ep0", Seq("hot" -> ((3L, 1L))), (1L, 1L))
      .collect().map(_.getAs[Long]("epoch"))
    assert(exact.length == 15 && exact.max == 2L)
    // prefix-sum cumsum path: identical (id, epoch) selection
    val viaPrefix = Curate.epochExpand(df, "id", "src", col("tok"), "ep0",
      Seq("hot" -> ((5L, 2L))), (2L, 5L), prefixPartitions = Some(4))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("epoch"))).toSet
    assert(viaPrefix == got.map(t => (t._2, t._3)).toSet)
  }

  test("scd2Dim: change-compressed validity intervals, one exchange for all three windows") {
    import graft.operators.Marts
    val obs = Seq(
      // key 1: B@d1 (two obs same day, okey 11 final), B@d2 (no-op touch,
      // compressed away), C@d3, is_current C
      (1L, "2024-01-01", 10L, "A"), (1L, "2024-01-01", 11L, "B"),
      (1L, "2024-01-02", 12L, "B"), (1L, "2024-01-03", 13L, "C"),
      // key 2: single observation -> one current row
      (2L, "2024-01-05", 20L, "X"))
      .toDF("k", "ds", "okey", "v")
      .select(col("k"), col("ds").cast("date").as("d"), col("okey"), col("v"))
    val got = Marts.scd2Dim(obs, "k", "d", "okey", Seq("v"), "9999-12-31")
      .select(col("k"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getString(4))).toSet
    assert(got == Set(
      (1L, "2024-01-01", "2024-01-03", false, "B"),
      (1L, "2024-01-03", "9999-12-31", true, "C"),
      (2L, "2024-01-05", "9999-12-31", true, "X")))
    // intervals are gapless and consecutive versions differ
    val plan = Marts.scd2Dim(obs, "k", "d", "okey", Seq("v"), "9999-12-31")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"all scd2 windows must share one exchange:\n$plan")
  }

  test("tokenBudgetSample covers each budget without undershoot, deterministically") {
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b",
        "w " * ((i % 7) + 1).toInt))
      .toDF("id", "src", "txt")
    val toks = size(split(trim(col("txt")), " ")).cast("bigint")
    val got = graft.operators.Curate.tokenBudgetSample(
      df, "id", "src", toks, "tb0", Seq("a" -> 30L), defaultBudget = 12L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3), r.getLong(4)))
    val bySrc = got.groupBy(_._1)
    // first-token discipline: total kept tokens reaches the budget (the
    // crossing doc is included) but dropping the LAST kept doc would
    // undershoot — i.e. every kept doc starts below the cutoff
    for ((src, budget) <- Seq("a" -> 30L, "b" -> 12L)) {
      val kept = bySrc(src).sortBy(_._4)
      assert(kept.last._4 >= budget, s"$src: budget not covered")
      assert(kept.forall(t => t._4 - t._3 < budget), s"$src: doc starting past cutoff kept")
    }
    val again = graft.operators.Curate.tokenBudgetSample(
      df, "id", "src", toks, "tb0", Seq("a" -> 30L), defaultBudget = 12L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(again == got.toSet)
  }

  test("quotaSample rejects an input that already has sample_rank") {
    val df = Seq((1L, "a", 9)).toDF("id", "src", "sample_rank")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Curate.quotaSample(df, "id", "src", "s", Nil, 1)
    }
    assert(e.getMessage.contains("sample_rank"))
  }

  test("redactPii: emails, contiguous ids, separated phones") {
    val got = Seq(
      "mail bob.smith+x@corp.example.org now",
      "call +1 (555) 010-1234 ok",
      "acct 9001234567 end",
      "clean text 42").toDF("s")
      .select(graft.functions.text.redactPii(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq(
      "mail <EMAIL> now",
      "call <PHONE> ok",
      "acct <ID> end",
      "clean text 42"))
  }

  test("dropBoilerplateChunks removes over-frequent units, keeps order") {
    val docs = (1L to 30L).map(i => (i, s"common header unique$i tail")) :+
      (99L, "totally fresh words")
    val got = Dedup.dropBoilerplateChunks(docs.toDF("id", "t"), "id", "t",
      chunkWords = 2, maxFreq = 10)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // "common header" occurs 30x -> dropped; "uniqueN tail" occurs once -> kept
    (1L to 30L).foreach(i => assert(got(i) == ((s"unique$i tail", 1L)), s"doc $i"))
    assert(got(99L) == (("totally fresh words", 2L)))
  }

  test("connectedComponents matches union-find on chains, cliques and singletons") {
    def refComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val rnd = new scala.util.Random(23)
    // a long path (stresses multi-round propagation: diameter 39), two
    // cliques, random extra edges, and isolated nodes 70..79
    val pathIds = rnd.shuffle((0L until 40L).toVector)
    val edges = pathIds.sliding(2).map(p => (p(0), p(1))).toSeq ++
      (40L until 50L).flatMap(a => (a + 1 until 50L).map(b => (a, b))) ++
      Seq((50L, 51L), (51L, 52L), (60L, 61L)) ++
      Seq.fill(10)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong)).filter(p => p._1 != p._2)
    val nodes = (0L until 80L).map(Tuple1(_)).toDF("id")
    val pairs = edges.toDF("id1", "id2")
    val got = Dedup.connectedComponents(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = refComponents(80, edges)
    assert(got == expect)
    (70L until 80L).foreach(i => assert(got(i) == i, s"isolated node $i"))
  }

  test("connectedComponents: reliable-checkpoint path matches, non-convergence throws") {
    val nodes = (0L until 12L).map(Tuple1(_)).toDF("id")
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("id1", "id2")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val got = Dedup.connectedComponents(nodes, "id", chain,
      checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 12L).map(_ -> 0L).toMap)
    // reliable checkpoints actually landed in the requested dir
    assert(new java.io.File(dir).listFiles() != null &&
      new java.io.File(dir).listFiles().nonEmpty, "checkpoint dir must be used")
    // a diameter-11 chain cannot converge in one round: partial labels
    // must fail loudly, never return silently wrong component ids
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, "id", chain, maxRounds = 1)
    }
    assert(ex.getMessage.contains("maxRounds"))
    // the failure path returns no DataFrame that could need the tracked
    // blocks — edge and label checkpoints must not leak
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "non-convergence must not leak persisted checkpoint blocks")
  }

  test("Report.runSummary: stage counts, failed checks; a passing run still emits its 0 row") {
    val stages = Seq("a" -> Seq(1, 2, 3).toDF("x"), "b" -> Seq(1).toDF("x"))
    val sources = Seq(("s1", 5L)).toDF("item", "value")
    val failing = Seq(("not_null", "c1", 2L), ("unique", "c2", 0L))
      .toDF("check_name", "column_name", "n_violations")
    val got = Report.runSummary(stages, failing, sources)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("run", "checks_failed", 1L),
      ("failed_checks", "not_null:c1", 2L),
      ("counts", "a", 3L), ("counts", "b", 1L),
      ("source_volume", "s1", 5L)))
    // all checks pass: the () grouping set must still aggregate the empty
    // failed subset into the scheduler's status row
    val passing = Seq(("unique", "c2", 0L)).toDF("check_name", "column_name", "n_violations")
    val got2 = Report.runSummary(stages, passing, sources)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got2.contains(("run", "checks_failed", 0L)))
    assert(!got2.exists(_._1 == "failed_checks"))
    // countsOf: several labeled counts from ONE pass over one frame
    val multi = Report.countsOf(Seq(1, 2, 3, 4).toDF("x"),
      Seq("all" -> lit(true), "big" -> (col("x") > 2)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(multi == Set(("counts", "all", 4L), ("counts", "big", 2L)))
  }

  test("ngramJaccard on provided pairs") {
    val pairs = Seq(("abcdef", "abcdef"), ("abcdef", "uvwxyz")).toDF("t1", "t2")
    val got = Dedup.ngramJaccard(pairs, col("t1"), col("t2"), 3)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(1.0, 0.0))
  }

  test("classifyByRules: ordered rules, first match wins") {
    val rules = Seq("\\bsenior\\b" -> "senior", "\\b(jr|junior)\\b" -> "junior")
    val got = Seq("Senior junior dev", "JR engineer", "dev").toDF("s")
      .select(Enrich.classifyByRules(col("s"), rules, "unknown"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("senior", "junior", "unknown"))
  }

  test("similarityRatio is length-normalized") {
    val got = Seq(("abcd", "abcx"), ("ab", "ax"), ("same", "same")).toDF("a", "b")
      .select(Enrich.similarityRatio(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(75.0, 50.0, 100.0))
  }

  test("editBlockKeys: the string plus each 1-deletion variant") {
    val got = Seq("abc").toDF("s").select(Enrich.editBlockKeys(col("s")))
      .collect().head.getSeq[String](0).toSet
    assert(got == Set("abc", "bc", "ac", "ab"))
  }

  test("deletionNeighborhood: depth-d variants match a plain-Scala reference") {
    def ref(s: String, d: Int): Set[String] = {
      var acc = Set(s)
      for (_ <- 1 to d)
        acc = acc ++ acc.flatMap(v => v.indices.map(i => v.take(i) + v.drop(i + 1)))
      acc
    }
    val got = Seq("abcde").toDF("s")
      .select(Enrich.deletionNeighborhood(col("s"), 2)).collect().head.getSeq[String](0)
    assert(got.toSet == ref("abcde", 2))
    assert(got.size == got.toSet.size, "keys must be distinct (no join blow-up)")
    assert(Enrich.maxEditsForRatio(16, 80.0) == 3)
    assert(Enrich.maxEditsForRatio(20, 80.0) == 4)
  }

  test("deletionNeighborhoodHashes mirrors the string neighborhood exactly") {
    // small alphabet forces heavy variant collisions -> the hash-side
    // dedup must agree with the string-side dedup (no spurious merges)
    val rnd = new scala.util.Random(31)
    val strs = Seq.tabulate(25)(_ =>
      Seq.fill(3 + rnd.nextInt(10))(('a' + rnd.nextInt(4)).toChar).mkString)
    val counts = strs.map(Tuple1(_)).toDF("s").select(
      size(Enrich.deletionNeighborhood(col("s"), 2)).as("ns"),
      size(Enrich.deletionNeighborhoodHashes(col("s"), 2)).as("nh")).collect()
    counts.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("fuzzySelfMatch at maxEdits=3: exact recall under the plain ratio>=80 rule") {
    val rnd = new scala.util.Random(7)
    def randName = Seq.fill(15 + rnd.nextInt(4))(('a' + rnd.nextInt(26)).toChar).mkString
    val base = Seq.tabulate(25)(i => (i.toLong, randName))
    // mutated twins at 0..3 substitutions (digits never occur in the base
    // names, so lev is exactly k)
    val mutants = base.map { case (id, n) =>
      val k = (id % 4).toInt
      val chars = n.toCharArray
      (0 until k).foreach(j => chars(j * 3) = ('0' + j).toChar)
      (id + 100L, new String(chars))
    }
    val names = base ++ mutants
    val got = Enrich.fuzzySelfMatch(names.toDF("id", "name"), "id", "name",
      minRatio = 80.0, maxEdits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth = the reference's accept rule alone, NO lev clause
    val expect = (for {
      (i1, n1) <- names; (i2, n2) <- names
      if i1 < i2
      ratio = BigDecimal(100.0 * (1.0 -
        levenshtein(n1, n2).toDouble / math.max(n1.length, n2.length)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      if ratio >= 80.0
    } yield (i1, i2)).toSet
    assert(got == expect)
    assert(expect.size >= 25, "every planted twin (lev 0-3) must be found")
  }

  test("fuzzySelfMatch: maxBucket caps over-popular blocks before the join") {
    val names = (1L to 20L).map(i => (i, "unknown")).toDF("id", "name")
    val capped = Enrich.fuzzySelfMatch(names, "id", "name", 0.0, maxEdits = 2, maxBucket = 10)
    assert(capped.count() == 0, "a 20-name block over cap 10 must emit no pairs")
    val uncapped = Enrich.fuzzySelfMatch(names, "id", "name", 0.0, maxEdits = 2, maxBucket = 1000)
    assert(uncapped.count() == 190) // all 20-choose-2 identical pairs
    // the audit query surfaces exactly what the cap silenced: every
    // over-cap key carries all 20 ids
    val audit = Enrich.fuzzyCappedKeys(names, "id", "name", maxEdits = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(audit.nonEmpty && audit.forall(_ == ((20L, 20L))))
    assert(Enrich.fuzzyCappedKeys(names, "id", "name", 2, 1000).count() == 0)
  }

  test("fuzzySelfMatch: deletion-neighborhood blocking has exact lev<=1 recall") {
    val rnd = new scala.util.Random(3)
    val names = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(4))("ab"(rnd.nextInt(2))).mkString))
    val got = Enrich.fuzzySelfMatch(names.toDF("id", "name"), "id", "name", minRatio = 0.0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (i1, n1) <- names; (i2, n2) <- names
      if i1 < i2 && levenshtein(n1, n2) <= 1
    } yield (i1, i2)).toSet
    assert(got == expect)
  }

  test("fuzzySelfMatch requireSide: pairs = full pairs minus unflagged-unflagged") {
    val rnd = new scala.util.Random(7)
    val names = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(4))("ab"(rnd.nextInt(2))).mkString))
    val tagged = names.toDF("id", "name").withColumn("is_new", col("id") >= 30)
    val got = Enrich.fuzzySelfMatch(tagged, "id", "name", minRatio = 0.0,
        requireSide = Some("is_new"))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      (i1, n1) <- names; (i2, n2) <- names
      if i1 < i2 && levenshtein(n1, n2) <= 1 && (i1 >= 30 || i2 >= 30)
    } yield (i1, i2)).toSet
    assert(got == expect)
    assert(expect.nonEmpty, "fixture must exercise the flagged side")
  }

  test("applyCdc: last-op-wins with delete and delete-then-revive semantics") {
    val log = Seq(
      // key 1: upsert then DELETE last -> absent from final state
      (1L, 10L, "u", 1.0),
      (1L, 20L, "del", 2.0),
      // key 2: delete then a later upsert REVIVES it -> present, payload 4.0
      (2L, 10L, "del", 3.0),
      (2L, 20L, "u", 4.0),
      // key 3: plain upserts, latest (ts tie broken by op id) wins
      (3L, 10L, "u", 5.0),
      (3L, 10L, "u", 6.0))
      .map { case (k, ts, op, v) => (k, ts, v.toLong, op, v) }
      .toDF("key", "ts", "opid", "op", "v")
    val got = Upsert.applyCdc(log, "key", "ts", "opid", "op", "del", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((2L, 4.0), (3L, 6.0)))
  }

  test("mergeInto routes delete/update/insert/keep/skip by clause order") {
    val target = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("key", "tag", "v")
    val source = Seq(
      (1L, "del", 9.0), // matched + delete clause -> row vanishes
      (2L, "b2", 9.0),  // matched, delete clause false -> update from source
      (4L, "d", 4.0),   // not matched, insert clause true -> insert
      (5L, "del", 5.0)) // not matched, insert clause false -> skip
      .toDF("key", "tag", "v")
    val got = Upsert.mergeInto(target, source, "key", Seq("tag", "v"),
      matchedDeleteWhen = col("s_tag") === "del",
      notMatchedInsertWhen = col("s_tag") =!= "del")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSet
    // key 3 untouched by the source survives as 'keep' with target payload
    assert(got == Set(
      (2L, "update", "b2", 9.0),
      (3L, "keep", "c", 3.0),
      (4L, "insert", "d", 4.0)))
  }

  test("mergeInto fails the job on a duplicate-key source (MERGE cardinality rule)") {
    val target = Seq((1L, 1.0)).toDF("key", "v")
    val dupSource = Seq((1L, 2.0), (1L, 3.0)).toDF("key", "v")
    val e = intercept[Exception] {
      Upsert.mergeInto(target, dupSource, "key", Seq("v"),
        matchedDeleteWhen = lit(false), notMatchedInsertWhen = lit(true))
        .collect()
    }
    // the assert_true fires inside the exchange; Spark wraps it, so
    // search the causal chain for the cardinality message
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("MERGE cardinality violation")))
  }

  test("Checks.violations counts planted unique/not_null/accepted violations") {
    import graft.operators.Checks
    val df = Seq(
      (Some("x"), Some("a"), "ok"),
      (Some("x"), None: Option[String], "ok"),
      (None: Option[String], Some("b"), "bad"),
      (None: Option[String], Some("c"), "worse"),
      (Some("y"), Some("d"), "ok")).toDF("k", "v", "e")
    val got = Checks.violations(df,
      unique = Seq("k"), notNull = Seq("v"), acceptedValues = Seq("e" -> Seq("ok")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "x" repeats (1 duplicated key); the two null keys are not_null's job,
    // not unique's; one null v; "bad"/"worse" fall outside the domain.
    assert(got == Map(
      ("unique", "k") -> 1L,
      ("not_null", "v") -> 1L,
      ("accepted_values", "e") -> 2L))
  }

  test("Checks.violations counts FK orphans (dbt relationships test)") {
    import graft.operators.Checks
    val child = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(99L)),
      (4L, None: Option[Long]), (5L, Some(98L))).toDF("id", "fk")
    val parent = Seq(10L, 20L, 30L).toDF("pk")
    val got = Checks.violations(child, unique = Seq.empty, notNull = Seq.empty,
      acceptedValues = Seq.empty, relationships = Seq(("fk", parent, "pk")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 99 and 98 are orphans; the null fk passes (not_null's job, as in dbt)
    assert(got == Map(("relationships", "fk") -> 2L))
  }

  test("extractSkills matches aliases of every length up to the longest") {
    val dict = Seq("scan" -> "scan", "table scan" -> "scan", "fast table scan" -> "fullscan")
    val docs = Seq((1L, "a fast table scan here"), (2L, "just a scan"), (3L, "nothing"))
      .toDF("doc_id", "text")
    val got = Enrich.extractSkills(spark, docs, "doc_id", "text", dict)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "fullscan,scan", 2L -> "scan"))
  }

  test("Upsert: latestState + merge (delta wins, seen-range spans both)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val base = Seq((1L, ts("2024-01-01 10:00:00"), 1L, "a"), (1L, ts("2024-01-01 11:00:00"), 2L, "b"))
      .toDF("k", "ts", "seq", "v")
    val delta = Seq((1L, ts("2024-01-02 09:00:00"), 3L, "c"), (2L, ts("2024-01-02 10:00:00"), 4L, "d"))
      .toDF("k", "ts", "seq", "v")
    val merged = Upsert.merge(
      Upsert.latestState(base, "k", "ts", "seq", Seq("v")),
      Upsert.latestState(delta, "k", "ts", "seq", Seq("v")),
      "k", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getString(3))).toSet
    assert(merged == Set(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-02 09:00:00"), "c"),
      (2L, ts("2024-01-02 10:00:00"), ts("2024-01-02 10:00:00"), "d")))
  }

  test("rankParts: 8 explain features, score in [0,100]") {
    val parts = Seq(
      (1L, "blue bolt", "Brand#5", "ECONOMY", 10, 1000.0),
      (2L, "odd thing", "Brand#44", "PROMO", 50, 99999.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val got = Ranker.rankParts(parts, RankingWeights(), RankingProfile())
    val cols = got.columns.toSeq
    Seq("title_score", "skills_score", "price_score", "brand_score", "type_score",
      "size_score", "class_score", "proximity_score", "rank_score").foreach(c =>
      assert(cols.contains(c), s"missing $c"))
    val rows = got.collect().map(r => r.getAs[Long]("p_partkey") -> r.getAs[Double]("rank_score")).toMap
    assert(rows.values.forall(s => s >= 0.0 && s <= 100.0))
    assert(rows(1L) > rows(2L), "the profile-matching part must outrank the mismatch")
    val r1 = got.filter(col("p_partkey") === 1L).collect().head
    assert(r1.getAs[Double]("class_score") == 1.0) // 'bolt' -> fastener
    assert(r1.getAs[Double]("proximity_score") == 1.0) // Brand#5 == home 5
  }

  test("knnJoin under a single cell equals the exact per-item kNN reference") {
    val rnd = new scala.util.Random(23)
    val vecs = Seq.tabulate(25)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    // one centroid -> every vector lands in one cell -> candidates = all,
    // so the cell-blocked join must reproduce exact kNN
    val cent = Seq((0L, Seq.fill(8)(0.1f))).toDF("centroid_id", "embedding")
    val k = 4
    val got = Ann.knnJoin(emb, "vec_id", "embedding", cent, k)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("nbr_id")).toMap
    val byId = vecs.toMap
    for (q <- vecs.map(_._1)) {
      val expect = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, refCosine(byId(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
      assert((1 to k).map(r => got((q, r))) == expect, s"neighbors of $q")
    }
  }

  test("bruteForceTopK matches a naive reference ranking") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(30)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    val k = 5
    val got = Ann.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, k)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val byId = vecs.toMap
    for (q <- 0L until 3L) {
      val expect = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, refCosine(byId(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
      val gotIds = (1 to k).map(r => got((q, r)))
      assert(gotIds == expect, s"top-$k for query $q")
    }
  }

  test("lshTopK candidates come from buckets within the probe radius") {
    val rnd = new scala.util.Random(13)
    val vecs = Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    def bucket(v: Seq[Float]) = v.take(2).map(x => if (x >= 0) '1' else '0').mkString
    def hamming(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    val byId = vecs.toMap
    val single = Ann.lshTopK(emb.filter(col("vec_id") < 5), emb, bits = 2, k = 3,
      probeRadius = 0).collect()
    single.foreach { r =>
      assert(bucket(byId(r.getLong(0))) == bucket(byId(r.getLong(1))))
      assert(r.getInt(3) <= 3)
    }
    assert(single.nonEmpty)
    val multi = Ann.lshTopK(emb.filter(col("vec_id") < 5), emb, bits = 2, k = 3).collect()
    multi.foreach { r =>
      assert(hamming(bucket(byId(r.getLong(0))), bucket(byId(r.getLong(1)))) <= 1)
      assert(r.getInt(3) <= 3)
    }
    assert(multi.nonEmpty)
  }

  test("lshTopK multi-probe recovers boundary-straddling neighbors") {
    val rnd = new scala.util.Random(17)
    // each query's TRUE nearest neighbor is a twin whose first component
    // sits just across the sign hyperplane -> different bucket at bit 1
    val queries = Seq.tabulate(5)(i =>
      (i.toLong, 0.001f +: Seq.fill(7)((rnd.nextFloat() - 0.5f) * 2)))
    val twins = queries.map { case (id, v) => (id + 1000L, -0.001f +: v.tail) }
    val noise = Seq.tabulate(40)(i => (100L + i, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val corpus = (queries ++ twins ++ noise).toDF("vec_id", "embedding")
    val qdf = corpus.filter(col("vec_id") < 5)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rnk") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(Ann.bruteForceTopK(qdf, corpus, 1))
    queries.foreach { case (id, _) => assert(exact(id) == id + 1000L, s"twin of $id") }
    val multi = top1(Ann.lshTopK(qdf, corpus, bits = 3, k = 1, probeRadius = 1))
    val single = top1(Ann.lshTopK(qdf, corpus, bits = 3, k = 1, probeRadius = 0))
    val multiRecall = queries.count { case (id, _) => multi.get(id).contains(exact(id)) }
    val singleRecall = queries.count { case (id, _) => single.get(id).contains(exact(id)) }
    assert(multiRecall == queries.size, "multi-probe must find every boundary twin")
    assert(singleRecall == 0, "single-probe cannot see across the hyperplane")
  }

  test("lshTopK radius 2 recovers two-boundary twins; recall monotone in radius") {
    val rnd = new scala.util.Random(29)
    // each query's true nearest neighbor straddles TWO sign hyperplanes
    // (bits 1 and 2 both flip) -> invisible at radius <= 1
    val queries = Seq.tabulate(5)(i =>
      (i.toLong, 0.001f +: 0.001f +: Seq.fill(6)((rnd.nextFloat() - 0.5f) * 2)))
    val twins = queries.map { case (id, v) => (id + 1000L, -0.001f +: -0.001f +: v.drop(2)) }
    val noise = Seq.tabulate(40)(i => (100L + i, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val corpus = (queries ++ twins ++ noise).toDF("vec_id", "embedding")
    val qdf = corpus.filter(col("vec_id") < 5)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rnk") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(Ann.bruteForceTopK(qdf, corpus, 1))
    queries.foreach { case (id, _) => assert(exact(id) == id + 1000L, s"twin of $id") }
    val recalls = (0 to 2).map { r =>
      val got = top1(Ann.lshTopK(qdf, corpus, bits = 3, k = 1, probeRadius = r))
      queries.count { case (id, _) => got.get(id).contains(exact(id)) }
    }
    assert(recalls(2) == queries.size, "radius 2 must find every two-boundary twin")
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2), "recall monotone in radius")
    assert(recalls(1) == 0, "a two-bit-away twin is invisible at radius 1")
  }

  test("ivfTopK probing every cell equals the exact brute-force ranking") {
    val rnd = new scala.util.Random(19)
    val vecs = Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    val qdf = emb.filter(col("vec_id") < 6)
    val cent = Ann.sampleCentroids(emb, 4)
    def ranked(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    // nProbe = C -> every query scans every cell = the whole corpus, so
    // the result must be IDENTICAL to the exact baseline (ids AND cosines)
    assert(ranked(Ann.ivfTopK(qdf, emb, cent, nProbe = 4, k = 5)) ==
      ranked(Ann.bruteForceTopK(qdf, emb, 5)))
  }

  test("ivfTopKAssigned over the assignCells output equals the inline ivfTopK") {
    val rnd = new scala.util.Random(37)
    val vecs = Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    val qdf = emb.filter(col("vec_id") < 6)
    val cent = Ann.sampleCentroids(emb, 4)
    def ranked(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Double)] =
      df.select("query_id", "cand_id", "cosine", "rnk").collect()
        .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val assigned = Ann.assignCells(emb, cent)
    assert(ranked(Ann.ivfTopKAssigned(qdf, assigned, cent, nProbe = 2, k = 5)) ==
      ranked(Ann.ivfTopK(qdf, emb, cent, nProbe = 2, k = 5)))
  }

  test("ivfTopK routes clustered vectors to their anchor's cell; recall grows with nProbe") {
    val rnd = new scala.util.Random(23)
    // 4 near-orthogonal anchors (ids 0-3) become the sampled centroids;
    // each anchor has a twin (id 100+i) = anchor + tiny noise -> the twin's
    // nearest centroid is its own anchor, so nProbe=1 must already find it
    val anchors = Seq.tabulate(4) { i =>
      (i.toLong, Seq.tabulate(8)(j => if (j == 2 * i || j == 2 * i + 1) 1.0f else 0.0f))
    }
    val twins = anchors.map { case (id, v) =>
      (100L + id, v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    val noise = Seq.tabulate(30)(i => (200L + i, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val corpus = (anchors ++ twins ++ noise).toDF("vec_id", "embedding")
    val qdf = corpus.filter(col("vec_id") < 4)
    val cent = Ann.sampleCentroids(corpus, 4)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rnk") === 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p1 = top1(Ann.ivfTopK(qdf, corpus, cent, nProbe = 1, k = 1))
    anchors.foreach { case (id, _) =>
      assert(p1(id) == 100L + id, s"nProbe=1 must find anchor $id's twin in its own cell")
    }
    // recall vs exact is monotone in nProbe (candidate sets are nested)
    val exact = top1(Ann.bruteForceTopK(qdf, corpus, 1))
    def recall(np: Int) =
      anchors.count { case (id, _) =>
        top1(Ann.ivfTopK(qdf, corpus, cent, np, 1)).get(id).contains(exact(id)) }
    assert(recall(2) >= recall(1))
  }

  test("assignCells: two-phase argmin is bit-identical to the exact reference at boundaries") {
    // fixture engineered to hit every branch of the two-phase resolve:
    // an exact tie (cheap gap 0 -> exact fallback -> cid tiebreak), a
    // zero-norm vector (every dist 1.0), a near-tie straddling the
    // margin, a clear winner (cheap fast path), plus 200 random vectors
    val cents = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f)))
    val rnd = new scala.util.Random(31)
    val fixed = Seq(
      (0L, Seq(1f, 1f, 0f, 0f)), // equidistant from c0/c1 -> lower cid wins
      (1L, Seq(0f, 0f, 0f, 0f)), // zero norm -> all dists 1.0 -> cell 0
      (2L, Seq(1f, 1.0000001f, 0f, 0f)), // near-tie inside/near the margin
      (3L, Seq(0.1f, 0f, 5f, 0f))) // clear winner c2, fast path
    val randoms = Seq.tabulate(200)(i =>
      (10L + i, Seq.fill(4)((rnd.nextFloat() - 0.5f) * 2)))
    val corpus = (fixed ++ randoms).toDF("vec_id", "embedding")
    val got = Ann.assignCells(corpus, cents.toDF("centroid_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    def refCell(v: Seq[Float]): Long =
      cents.map { case (cid, c) => (1.0 - refCosine(v, c), cid) }.min._2
    (fixed ++ randoms).foreach { case (id, v) =>
      assert(got(id) == refCell(v), s"vec $id: ${v.mkString(",")}")
    }
    assert(got(0L) == 0L && got(1L) == 0L && got(3L) == 2L)
  }

  test("refineCentroids drives quantization error down toward the cluster structure") {
    val rnd = new scala.util.Random(29)
    // 3 tight clusters around orthogonal anchors in ID BLOCKS of 20, so
    // the sampled init (ids 0-2) is the classic bad start: all three
    // centroids inside cluster 0, clusters 1 and 2 uncovered
    val anchorOf = (i: Int) => Seq.tabulate(6)(j =>
      if (j == 2 * (i / 20) || j == 2 * (i / 20) + 1) 1.0f else 0.0f)
    val corpus = Seq.tabulate(60) { i =>
      (i.toLong, anchorOf(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }
    val emb = corpus.toDF("vec_id", "embedding")
    val init = Ann.sampleCentroids(emb, 3)
    def centVecs(df: org.apache.spark.sql.DataFrame): Seq[Seq[Float]] =
      df.collect().map(_.getSeq[Float](1)).toSeq
    def cosErr(cents: Seq[Seq[Float]]): Double =
      corpus.map { case (_, v) => cents.map(c => 1.0 - refCosine(v, c)).min }
        .sum / corpus.size
    val e0 = cosErr(centVecs(init))
    val e1 = cosErr(centVecs(Ann.refineCentroids(emb, init, iters = 1)))
    val e4 = cosErr(centVecs(Ann.refineCentroids(emb, init, iters = 4)))
    // uncovered clusters make e0 ~ 2/3; Lloyd must recover most of it
    assert(e1 < e0, s"one round ($e1) must beat the bad init ($e0)")
    assert(e4 <= e1 + 1e-9, s"more rounds must not regress ($e4 vs $e1)")
    assert(e4 < 0.5 * e0, s"refined error $e4 should recover the uncovered clusters (init $e0)")
  }

  test("lshTopKMultiTable: another table recovers a neighbor straddling table 0's hyperplane") {
    // neighbor of query 0 with dim 1 sign FLIPPED (staddles table 0's
    // first hyperplane -> different table-0 bucket) but table-1 dims
    // (9-16) identical; filler vectors differ everywhere
    val base = Seq.tabulate(16)(i => 0.3f)
    val q = (0L, base)
    val straddler = (1L, base.updated(0, -0.01f))
    val fillers = (2L to 9L).map(i => (i, base.map(x => if (i % 2 == 0) -x else x * 0.1f)))
    val emb = (Seq(q, straddler) ++ fillers).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0L)
    val single = Ann.lshTopK(queries, emb, bits = 8, k = 8, probeRadius = 0)
      .collect().map(_.getLong(1)).toSet
    assert(!single.contains(1L), "fixture must actually straddle table 0")
    val multi = Ann.lshTopKMultiTable(queries, emb, bits = 8, tables = 2, k = 8)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(multi.map(_._1).contains(1L), s"table 1 must recover the straddler: $multi")
    // first-match discipline: no candidate appears twice in a query's list
    assert(multi.map(_._1).distinct.length == multi.length)
  }

  test("IVF-PQ: codes-only ADC search recalls the exact top-k on clustered data") {
    val rnd = new scala.util.Random(41)
    // 4 direction clusters on orthogonal anchor pairs in an 8-dim space
    // (2 subspaces x 4 dims), jittered; ids interleave clusters so the
    // lowest-id codebook init sees every cluster
    val anchorOf = (i: Int) => Seq.tabulate(8)(j =>
      if (j == 2 * (i % 4) || j == 2 * (i % 4) + 1) 1.0f else 0.0f)
    val corpus = Seq.tabulate(80) { i =>
      (i.toLong, anchorOf(i).map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f))
    }
    val emb = corpus.toDF("vec_id", "embedding")
    val cent = Ann.sampleCentroids(emb, 4)
    val cbs = Ann.pqTrain(emb, nSub = 2, k = 8, iters = 2)
    val enc = Ann.pqEncodeWithCells(emb, cbs, cent)
    // encode is deterministic and codes reference real codebook entries
    val enc2 = Ann.pqEncodeWithCells(emb, cbs, cent)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(enc.collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet == enc2)
    val cbIds = cbs.collect().map(_.getLong(1)).toSet
    assert(enc2.flatMap(_._3).forall(cbIds))
    val queries = emb.filter(col("vec_id") < 8)
    // quantized scores tie WITHIN a code cell (every member shares the
    // reconstruction — inherent to PQ), so quality is measured the way
    // PQ is used: (a) retrieved neighbors come from the query's own
    // cluster, (b) the EXACT top-5 survives inside an ADC top-20
    // rerank buffer (the refinement read every production IVF-PQ does)
    val got20 = Ann.ivfPqTopK(queries, enc, cbs, cent, nProbe = 2, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val exact = Ann.bruteForceTopK(queries, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val purity = (0L until 8L).map { q =>
      got20(q).map(_._2).count(c => c % 4 == q % 4).toDouble / got20(q).size
    }
    assert(purity.sum / purity.size >= 0.9,
      s"retrieved neighbors should share the query's cluster: $purity")
    val recalls = (0L until 8L).map { q =>
      exact(q).map(_._2).toSet.intersect(got20(q).map(_._2).toSet).size.toDouble / 5
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5-in-20 $mean too low (per-query: $recalls)")
    // the +R refinement tier: exact rerank of the ADC top-20 buffer.
    // Wherever the buffer covers the in-probe exact top-5 (what the
    // recall assertion above measures), refined == IVF-flat search over
    // the same cells — the production equivalence that justifies
    // shipping codes instead of raw vectors
    val refined = Ann.ivfPqTopKRefined(queries, enc, emb, cbs, cent,
      nProbe = 2, kAdc = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val flat = Ann.ivfTopK(queries, emb, cent, nProbe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val agree = (0L until 8L).count(q => refined(q).map(_._2).toSet == flat(q).map(_._2).toSet)
    assert(agree >= 6, s"refined should recover the flat top-5 on most queries: $agree/8")
  }

  test("distributionDrift: identical halves score 0, disjoint halves score 1, shifts in between") {
    import graft.operators.Checks
    // group "same": windows A and B hold the identical histogram → tvd 0
    // group "shift": B is A shifted one bin → partial overlap, 0 < tvd < 1
    // group "gone": B occupies bins A never touches → tvd 1
    val rows =
      (1 to 50).map(i => ("same", false, (i % 5) * 10.0)) ++
      (1 to 50).map(i => ("same", true, (i % 5) * 10.0)) ++
      (1 to 50).map(i => ("shift", false, (i % 5) * 10.0)) ++
      (1 to 50).map(i => ("shift", true, (i % 5) * 10.0 + 10.0)) ++
      (1 to 20).map(i => ("gone", false, 0.0)) ++
      (1 to 20).map(i => ("gone", true, 90.0))
    val df = rows.toDF("g", "b", "v")
    val got = Checks.distributionDrift(df, "g", "v", col("b"), 10.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    assert(got("same") == ((50L, 50L, 0.0, 0L)))
    assert(got("gone")._3 == 1.0)
    val (na, nb, tvd, topBin) = got("shift")
    assert(na == 50L && nb == 50L)
    // shifted-by-one histograms over 5 equal bins: overlap 4/5 → tvd = 1/5
    assert(math.abs(tvd - 0.2) < 1e-12, s"tvd=$tvd")
    assert(topBin == 0L || topBin == 5L) // the vacated first or new last bin
    // empty side = maximal drift by definition
    val oneSided = Checks.distributionDrift(
      Seq(("x", false, 1.0)).toDF("g", "b", "v"), "g", "v", col("b"), 10.0)
      .collect().head
    assert(oneSided.getDouble(3) == 1.0)
  }

  test("curriculumPack: phases from thresholds, single-phase packs, budget cuts") {
    import graft.operators.Curate
    // one shard so the pack math is hand-checkable
    val docs = Seq(
      (1L, 10L, 5L),   // dif 5  -> phase 0
      (2L, 10L, 5L),   // phase 0; cum 20 -> same pack as doc 1 (budget 25)
      (3L, 10L, 5L),   // phase 0; cum 30 -> (30-10) div 25 = 0 -> still pack 0
      (4L, 10L, 5L),   // phase 0; cum 40 -> (40-10) div 25 = 1 -> pack 1
      (5L, 99L, 15L),  // dif 15 -> phase 1; oversize (99 > 25) -> its own pack
      (6L, 10L, 30L))  // dif 30 -> phase 2
      .toDF("id", "n_tokens", "dif")
    val got = Curate.curriculumPack(docs, "id", col("n_tokens"), col("dif"),
      thresholds = Seq(10L, 20L), nShards = 1, budget = 25L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(got((0, 0L, 0L)) == ((3L, 30L)))
    assert(got((0, 0L, 1L)) == ((1L, 10L)))
    assert(got((1, 0L, 0L)) == ((1L, 99L)))
    assert(got((2, 0L, 0L)) == ((1L, 10L)))
    assert(got.size == 4)
    // thresholds must be ascending
    intercept[IllegalArgumentException] {
      Curate.curriculumPack(docs, "id", col("n_tokens"), col("dif"),
        thresholds = Seq(20L, 10L), nShards = 1, budget = 25L)
    }
  }

  test("kAnonymity: class sizes, diversity, and the homogeneity case k alone misses") {
    import graft.operators.Checks
    // class A: 6 rows, 4 sensitive values -> safe on both
    // class B: 3 rows -> k-risky (and l-risky: 2 < 3)
    // class C: 7 rows, ONE sensitive value -> k-safe but l-risky (homogeneity)
    val rows =
      Seq.tabulate(6)(i => ("A", "d1", i.toLong % 4)) ++
      Seq.tabulate(3)(i => ("B", "d1", i.toLong % 2)) ++
      Seq.tabulate(7)(_ => ("C", "d2", 9L))
    val got = Checks.kAnonymity(rows.toDF("g", "day", "uid"),
      Seq("g", "day"), "uid", k = 5, l = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toMap
    assert(got(("A", "d1")) == ((6L, 4L, false, false)))
    assert(got(("B", "d1")) == ((3L, 2L, true, true)))
    assert(got(("C", "d2")) == ((7L, 1L, false, true)))
  }

  test("minhashRecallAudit: truth matches brute force; found flags match the candidate set") {
    import graft.operators.Dedup
    // three near-dup families + singletons; word shingles of 3
    def doc(base: String, tail: String) = s"$base $tail"
    val base1 = "alpha beta gamma delta epsilon zeta eta theta"
    val base2 = "one two three four five six seven eight nine ten"
    val rows = Seq(
      1L -> doc(base1, "iota"), 2L -> doc(base1, "iota"), // exact dups
      3L -> doc(base1, "kappa"), // near dup of 1/2
      4L -> doc(base2, "xx"), 5L -> doc(base2, "yy"), // near pair
      6L -> "completely different words nothing shared here at all")
    val df = rows.toDF("id", "t")
    val got = Dedup.minhashRecallAudit(df, "id", "t",
      shingleN = 3, k = 16, bands = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    // brute-force truth: distinct word-3-shingle sets, pairwise jaccard
    def shingles(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val brute = (for {
      (i, ti) <- rows; (j, tj) <- rows if i < j
      si = shingles(ti); sj = shingles(tj)
      jac = (si & sj).size.toDouble / (si | sj).size.toDouble
      if jac >= 0.5
    } yield (i, j) -> jac).toMap
    assert(got.keySet == brute.keySet, "truth pairs must match brute force")
    brute.foreach { case (k, v) => assert(got(k)._1 == v, s"jaccard drift on $k") }
    // every found flag must agree with the production candidate generator
    val cands = Dedup.lshCandidates(df, "id", "t", shingleN = 3, k = 16, bands = 2, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (k, (_, found)) => assert(found == cands(k), s"flag drift on $k") }
    // the exact-dup pair collides in every band by construction
    assert(got((1L, 2L))._2)
  }

  test("embeddingDrift: exact per-dim means, planted shift flagged, empty side drifts") {
    import graft.operators.Checks
    // dim 0: both slices mean 1.0 → shift 0; dim 1: cur shifted +0.5 →
    // flagged at threshold 0.1; dim 2: identical irrational-ish floats →
    // the decimal-sum path must still cancel exactly.
    val rows = Seq(
      (false, Seq(1.0f, 2.0f, 0.1f)), (false, Seq(1.0f, 4.0f, 0.1f)),
      (true, Seq(0.5f, 3.5f, 0.1f)), (true, Seq(1.5f, 3.5f, 0.1f)))
    val got = Checks.embeddingDrift(
      rows.toDF("c", "embedding"), col("c"), "embedding", 0.1)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6))).toMap
    assert(got(0) == ((2L, 2L, 1.0, 1.0, 0.0, false)))
    assert(got(1) == ((2L, 2L, 3.0, 3.5, 0.5, true)))
    val (_, _, rm, cm, sh, fl) = got(2)
    assert(rm == cm && sh == 0.0 && !fl, s"identical dims must cancel exactly: $sh")
    // a dimension with an empty side is drift by definition
    val oneSided = Checks.embeddingDrift(
      Seq((false, Seq(1.0f))).toDF("c", "embedding"), col("c"), "embedding", 0.1)
      .collect().head
    assert(oneSided.getBoolean(6))
  }

  test("diffReport: null-safe change classes and per-column attribution") {
    import graft.operators.Checks
    // k=1 unchanged; k=2 changed (one column); k=3 changed (both, incl.
    // value→NULL); k=4 removed; k=5 added; k=6 unchanged with NULL==NULL
    val oldV = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("a"), Some(1.0)),
      (3L, Some("a"), Some(1.0)), (4L, Some("a"), Some(1.0)),
      (6L, None: Option[String], Some(2.0)))
      .toDF("k", "et", "v")
    val newV = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(1.0)),
      (3L, Some("b"), None: Option[Double]), (5L, Some("a"), Some(1.0)),
      (6L, None: Option[String], Some(2.0)))
      .toDF("k", "et", "v")
    val got = Checks.diffReport(oldV, newV, "k", Seq("et", "v"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got(("rows", "added")) == 1L)
    assert(got(("rows", "removed")) == 1L)
    assert(got(("rows", "changed")) == 2L)
    assert(got(("rows", "unchanged")) == 2L) // incl. the NULL==NULL row
    assert(got(("column", "et")) == 2L)
    assert(got(("column", "v")) == 1L) // value→NULL IS a change
    // one full-outer join, no second pass per column
    val joins = Checks.diffReport(oldV, newV, "k", Seq("et", "v"))
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1, s"expected exactly one join, got ${joins.size}")
  }

  test("bigramModel + lmScore: hand-computed Laplace probabilities, OOV smoothing, degenerate docs") {
    // train corpus: "a b a b" + "a c" → bigrams: (a,b)x2, (b,a)x1, (a,c)x1
    // c1: a→3, b→1; vocab {a,b,c} → V=3
    val train = Seq((0L, Seq("a", "b", "a", "b")), (1L, Seq("a", "c")))
      .toDF("doc_id", "t")
    val (bi, uni, v) = Profile.bigramModel(train, col("t"), maxEntries = 100)
    assert(bi == Map("a b" -> 2L, "b a" -> 1L, "a c" -> 1L))
    assert(uni == Map("a" -> 3L, "b" -> 1L))
    assert(v == 3L)
    val scale = 1000000L
    val docs = Seq(
      (10L, Seq("a", "b")),        // P(b|a) = (2+1)/(3+3) = 0.5, in-model
      (11L, Seq("c", "a")),        // OOV pair: (0+1)/(0+3) = 1/3 (c is not a LHS)
      (12L, Seq("x", "y", "x")),   // fully OOV: 2 pairs of (0+1)/(0+3)
      (13L, Seq("only")),          // 1 token: no bigrams, null score
      (14L, Seq.empty[String]))    // empty doc
      .toDF("doc_id", "t")
    val got = Profile.lmScore(docs, col("t"), bi, uni, v, scale)
      .select("doc_id", "n_bigrams", "n_oov", "avg_bigram_prob")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(10L) == ((1L, 0L, Some(0.5))))
    assert(got(11L) == ((1L, 1L, Some(math.floor(scale / 3.0) / scale))))
    assert(got(12L) == ((2L, 2L, Some(2 * math.floor(scale / 3.0) / (2 * scale)))))
    assert(got(13L) == ((0L, 0L, None)))
    assert(got(14L) == ((0L, 0L, None)))
    // the maxEntries serving cap cuts by (count desc, key) deterministically
    val (biCapped, _, _) = Profile.bigramModel(train, col("t"), maxEntries = 1)
    assert(biCapped == Map("a b" -> 2L))
    // scoring is narrow: no exchange anywhere in the plan
    val plan = Profile.lmScore(docs, col("t"), bi, uni, v, scale)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "lmScore must be map-only")
  }

  test("temperatureBudgets: alpha<1 compresses head/tail imbalance, exact integer shares") {
    import graft.operators.Curate
    // head source holds 9x the tail's tokens
    val docs = (
      (1 to 9).map(i => (i.toLong, "head", 100L)) :+ (100L, "tail", 100L)
    ).toDF("doc_id", "source", "n_tok")
    val b05 = Curate.temperatureBudgets(docs, "source", col("n_tok"), 12000L, 1).toMap
    // sqrt(900):sqrt(100) = 3:1 exactly -> budgets 9000/3000
    assert(b05 == Map("head" -> 9000L, "tail" -> 3000L))
    val b025 = Curate.temperatureBudgets(docs, "source", col("n_tok"), 12000L, 2).toMap
    // sqrt(sqrt(900)) : sqrt(sqrt(100)) ~ 1.732:1 — flatter than alpha=0.5
    val r05 = b05("head").toDouble / b05("tail")
    val r025 = b025("head").toDouble / b025("tail")
    assert(r025 < r05 && r05 < 9.0,
      s"temperature must compress: natural 9x, got a=.5 $r05, a=.25 $r025")
    assert(b025.values.sum <= 12000L && b05.values.sum <= 12000L)
    // deterministic across invocations (the frozen-integer-weight contract)
    assert(Curate.temperatureBudgets(docs, "source", col("n_tok"), 12000L, 2).toMap == b025)
    intercept[IllegalArgumentException] {
      Curate.temperatureBudgets(docs, "source", col("n_tok"), 12000L, 3)
    }
  }

  test("exciseContaminatedSpans: surgical cut, span accounting, full-cover and clean docs") {
    import graft.operators.Curate
    val bench = Seq(Tuple1("alpha beta gamma")).toDF("text")
    val hashes = Curate.benchmarkGramHashes(bench, "text", 3)
    assert(hashes.size == 1)
    val docs = Seq(
      // leak in the middle: tokens 2-4 covered, rest kept
      (1L, "keep one alpha beta gamma keep two"),
      // clean doc: untouched
      (2L, "totally unrelated words here"),
      // fully covered: 3 tokens == the leaked gram
      (3L, "alpha beta gamma"),
      // two disjoint leaks -> two spans
      (4L, "alpha beta gamma x y alpha beta gamma"))
      .toDF("doc_id", "text")
    val got = Curate.exciseContaminatedSpans(docs, "doc_id", "text", hashes, 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((7L, 3L, 1L, "keep one keep two")))
    assert(got(2L) == ((4L, 0L, 0L, "totally unrelated words here")))
    assert(got(3L) == ((3L, 3L, 1L, "")))
    // doc 4: tokens 0-2 and 5-7 covered, the bridge "x y" is in no
    // benchmark gram and must survive — over-covering would eat it
    assert(got(4L) == ((8L, 6L, 2L, "x y")))
    val plan = Curate.exciseContaminatedSpans(docs, "doc_id", "text", hashes, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "excision must be map-only")
  }

  test("exciseRepeatedSpans: corpus-wide hot grams excised, sub-threshold repeats survive") {
    import graft.operators.Curate
    // the 4-word phrase "p q r s" occurs 3 times corpus-wide (docs
    // 1, 2, 3) -> hot at minCount=3; "u v w x" occurs only twice
    // (docs 4, 5) -> survives; doc 6 is clean
    val docs = Seq(
      (1L, "a b p q r s c d"),
      (2L, "p q r s e f g h"),
      (3L, "i j k p q r s"),
      (4L, "u v w x m n o t"),
      (5L, "y z u v w x a2 b2"),
      (6L, "nothing here repeats at all"))
      .toDF("doc_id", "text")
    val got = Curate.exciseRepeatedSpans(docs, "doc_id", "text", 4, 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((8L, 4L, 1L, "a b c d")))
    assert(got(2L) == ((8L, 4L, 1L, "e f g h")))
    assert(got(3L) == ((7L, 4L, 1L, "i j k")))
    assert(got(4L) == ((8L, 0L, 0L, "u v w x m n o t")),
      "a 2-occurrence phrase must survive at minCount=3")
    assert(got(5L) == ((8L, 0L, 0L, "y z u v w x a2 b2")))
    assert(got(6L) == ((5L, 0L, 0L, "nothing here repeats at all")))
    // a span LONGER than n repeated >= minCount is covered end-to-end
    // by its own repeated n-grams — one gram size handles all lengths
    val long = Seq(
      (1L, "h1 p q r s t u h2"),
      (2L, "h3 h4 p q r s t u"),
      (3L, "p q r s t u h5 h6"))
      .toDF("doc_id", "text")
    val g2 = Curate.exciseRepeatedSpans(long, "doc_id", "text", 4, 3L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(4)))).toMap
    assert(g2(1L) == ((6L, "h1 h2")) && g2(2L) == ((6L, "h3 h4")) &&
      g2(3L) == ((6L, "h5 h6")),
      "a repeated 6-word span must be fully excised via its 4-gram cover")
    // intra-doc repetition counts toward the global total (Lee et al.
    // counts occurrences, not documents)
    val intra = Seq(
      (1L, "c1 m m2 m3 m4 m m2 m3 m4 c2"),
      (2L, "c3 m m2 m3 m4 c4"))
      .toDF("doc_id", "text")
    val g3 = Curate.exciseRepeatedSpans(intra, "doc_id", "text", 4, 3L)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(g3 == Map(1L -> "c1 c2", 2L -> "c3 c4"),
      "three total occurrences across two docs must go hot")
  }

  test("funnel: steps must occur strictly after the previous match, in event order") {
    import graft.operators.Temporal
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val ev = Seq(
      // user 1: full funnel in order
      (1L, ts(10), 1L, "click"), (1L, ts(20), 2L, "view"), (1L, ts(30), 3L, "purchase"),
      // user 2: view BEFORE the click — stalls at step 1
      (2L, ts(10), 4L, "view"), (2L, ts(20), 5L, "click"),
      // user 3: purchase before view — the view later, purchase never re-fires
      (3L, ts(10), 6L, "click"), (3L, ts(20), 7L, "purchase"), (3L, ts(30), 8L, "view"),
      // user 4: same-ts click/view ordered by the event_id tiebreak
      (4L, ts(10), 9L, "click"), (4L, ts(10), 10L, "view"), (4L, ts(20), 11L, "purchase"),
      // user 5: never clicks
      (5L, ts(10), 12L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Temporal.funnel(ev, "user_id", "ts", "event_id", "event_type",
      Seq("click", "view", "purchase"))
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // reach: step1 = users 1,2,3,4; step2 = 1,3,4; step3 = 1,4
    assert(got(1) == (("click", 4L)))
    assert(got(2) == (("view", 3L)))
    assert(got(3) == (("purchase", 2L)))
  }

  // --------------------------------------------------------------- SQ8
  test("sq8Encode: codes in [0,255], dequantization error bounded by one step") {
    val rnd = new scala.util.Random(31)
    val vecs = Seq.tabulate(50)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 4)))
    val emb = vecs.toDF("vec_id", "embedding")
    val sq = Ann.sq8Train(emb)
    val stats = sq.collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(stats.size == 8)
    val codes = Ann.sq8Encode(emb, sq)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val byId = vecs.toMap
    for ((id, cs) <- codes; (c, i) <- cs.zipWithIndex) {
      assert(c >= 0 && c <= 255, s"code out of byte range: $c")
      val (lo, hi) = stats(i)
      val deq = lo + (c.toDouble * (hi - lo)) / 255.0
      val step = (hi - lo) / 255.0
      assert(math.abs(deq - byId(id)(i).toDouble) <= step * (1 + 1e-9),
        s"vec $id dim $i: deq $deq vs ${byId(id)(i)}")
    }
  }

  test("sq8TopKRefined with a full-corpus buffer equals exact brute force") {
    val rnd = new scala.util.Random(37)
    val vecs = Seq.tabulate(40)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    val sq = Ann.sq8Train(emb)
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // kSq >= |corpus|-1: the buffer holds every candidate, so the exact
    // rerank must reproduce the exact ranking regardless of quantization
    assert(ranked(Ann.sq8TopKRefined(emb.filter(col("vec_id") < 3), emb, sq, 39, 5)) ==
      ranked(Ann.bruteForceTopK(emb.filter(col("vec_id") < 3), emb, 5)))
  }

  test("sq8TopKRefined: small-buffer recall vs exact top-k stays high") {
    val rnd = new scala.util.Random(41)
    val vecs = Seq.tabulate(120)(i => (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2)))
    val emb = vecs.toDF("vec_id", "embedding")
    val sq = Ann.sq8Train(emb)
    val queries = emb.filter(col("vec_id") < 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = ids(Ann.bruteForceTopK(queries, emb, 5))
    val got = ids(Ann.sq8TopKRefined(queries, emb, sq, kSq = 20, k = 5))
    val recall = exact.keys.toSeq.map(q =>
      (got(q) intersect exact(q)).size.toDouble / exact(q).size).sum / exact.size
    // 8-bit quantization of smooth data: the 20-wide buffer should all
    // but always contain the true top-5 (deterministic under the seed)
    assert(recall >= 0.9, s"recall@5 $recall")
  }

  test("containmentPairs finds a wrapped copy; the df cap silences boilerplate") {
    val bp = "x1 x2 x3 x4 x5"
    val docs = Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> s"alpha beta gamma delta epsilon zeta $bp", // 1 wrapped in boilerplate
      3L -> s"three words here $bp",
      4L -> s"other content entirely $bp",
      5L -> s"more unrelated tokens $bp",
      6L -> s"final distinct payload $bp").toDF("id", "t")
    val got = Dedup.containmentPairs(docs, "id", "t",
        shingleN = 3, maxDf = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // doc 1's four shingles all sit inside doc 2 -> containment 1.0;
    // docs 3-6 share ONLY the boilerplate run, whose shingles exceed the
    // df cap (5 > 3) and are dropped — no pair may surface among them
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) == 1.0)
  }

  test("importanceSample keeps exactly the rows under their own keep-probability") {
    import graft.operators.Curate
    def frac(key: String): Double =
      java.lang.Long.parseLong(md5hex(key).take(8), 16).toDouble / 4294967296.0
    val rows = (1L to 200L).map(i => (i, (i % 10).toDouble / 10.0))
    val df = rows.toDF("id", "w")
    val got = Curate.importanceSample(df, "id", "w", boost = 1.25, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val want = rows.flatMap { case (i, w) =>
      val p = math.min(1.0, w * 1.25)
      if (frac(s"$i|s1") < p) Some(i -> p) else None
    }.toMap
    assert(got == want)
    // weight 0 rows can never survive; weight >= 0.8 saturates at p = 1
    assert(!got.keySet.exists(_ % 10 == 0))
    assert(got.values.exists(_ == 1.0))
  }

  test("flagSemanticContamination flags planted near-copies with the strongest hit") {
    import graft.operators.Curate
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(40)(i => (i.toLong, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 2)))
    val corpus = base.toDF("id", "v")
    // benchmark: near-copies of ids 3 and 17 (last component zeroed), plus
    // one unrelated random vector that must flag nothing
    val bench = Seq(
      (1003L, base(3)._2.dropRight(1) :+ 0.0f),
      (1017L, base(17)._2.dropRight(1) :+ 0.0f),
      (1999L, Seq.fill(16)((rnd.nextFloat() - 0.5f) * 2))).toDF("bid", "bv")
    val got = Curate.flagSemanticContamination(
        corpus, "id", "v", bench, "bid", "bv", 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(3L, 17L))
    assert(got(3L) == 1003L && got(17L) == 1017L)
  }

  test("correlationMatrix matches an exact-sum plain-Scala Pearson bitwise") {
    val rows = Seq(
      (1.0, 2.0, 5.0), (2.0, 4.5, 4.0), (3.0, 5.5, 3.5),
      (4.0, 8.25, 1.0), (5.0, 10.0, 0.25))
    val df = rows.toDF("x", "y", "z")
    val got = Profile.correlationMatrix(df, Seq("x", "y", "z"), "decimal(12,4)")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    def corr(f: ((Double, Double, Double)) => Double,
        g: ((Double, Double, Double)) => Double): Double = {
      // exact decimal moments (inputs have <= 4dp), bridged to double --
      // the operator's construction, replayed independently
      def bd(v: Double) = BigDecimal(v).setScale(4)
      val n = rows.size.toDouble
      val (sx, sy) = (rows.map(r => bd(f(r))).sum.toDouble, rows.map(r => bd(g(r))).sum.toDouble)
      val sxx = rows.map(r => bd(f(r)) * bd(f(r))).sum.toDouble
      val syy = rows.map(r => bd(g(r)) * bd(g(r))).sum.toDouble
      val sxy = rows.map(r => bd(f(r)) * bd(g(r))).sum.toDouble
      (n * sxy - sx * sy) / (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    }
    assert(got(("x", "y")) == corr(_._1, _._2))
    assert(got(("x", "z")) == corr(_._1, _._3))
    assert(got(("y", "z")) == corr(_._2, _._3))
    // constant column: zero variance -> null, not NaN
    val const = Seq((1.0, 7.0), (2.0, 7.0)).toDF("a", "b")
    val c = Profile.correlationMatrix(const, Seq("a", "b"), "decimal(12,4)").collect()
    assert(c.head.isNullAt(3), "zero-variance pair must be null")
  }

  test("correlationMatrix finish plan contains NO scan of the input table") {
    // The single-scan claim is structural: the moment row is collected
    // (one row of coordinator state) and the k(k-1)/2 pair projections
    // select from the re-lifted local frame — so the finish's executed
    // plan must hold zero file scans, not depend on ReuseExchange
    // deduplicating k(k-1)/2 identical aggregate subtrees.
    val dir = Files.createTempDirectory("graft-corr-scan").toString
    Seq((1.0, 2.0), (2.0, 4.5), (3.0, 5.5), (4.0, 8.25))
      .toDF("x", "y").write.mode("overwrite").parquet(dir)
    val fromParquet = spark.read.parquet(dir)
    val out = Profile.correlationMatrix(fromParquet, Seq("x", "y"), "decimal(12,4)")
    val scans = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"correlation finish must not re-scan the input; found ${scans.size} file scan(s)")
    assert(out.collect().length == 1)
  }

  test("bitemporal dim: tx-travel reproduces each load's snapshot; corrections close, never delete") {
    import graft.operators.Marts
    def snap(obs: Seq[(Long, String, Long, String)]) = Marts.scd2Dim(
      obs.toDF("k", "d", "tb", "v"), "k", "d", "tb", Seq("v"), "9999-12-31")
      .drop("is_current")
    // load 1 knows: key 1 = va from 02-01
    val b1 = Seq((1L, "2024-02-01", 1L, "va"))
    // load 2 learns a LATE earlier observation (v0 from 01-15, so va's
    // interval now starts later... actually va keeps its start; v0 precedes)
    // and a new change (vb from 03-01)
    val all2 = b1 ++ Seq((1L, "2024-01-15", 2L, "v0"), (1L, "2024-03-01", 3L, "vb"))
    val s1 = snap(b1)
    val s2 = snap(all2)
    val idCols = Seq("k", "valid_from", "valid_to", "v")
    val bt = Marts.bitemporalApply(Marts.bitemporalInit(s1, 1L), s2, 2L, idCols)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(idCols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rowsOf(Marts.bitemporalAsOfTx(bt, 1L)) == rowsOf(s1),
      "tx=1 read must equal load 1's snapshot")
    assert(rowsOf(Marts.bitemporalAsOfTx(bt, 2L)) == rowsOf(s2),
      "tx=2 read must equal the full-knowledge snapshot")
    // the superseded load-1 row (va open-ended) is CLOSED, still present
    val closed = bt.filter(col("tx_to") === 2L)
    assert(closed.count() == 1 &&
      closed.head.getAs[String]("valid_to").startsWith("9999"),
      "the open-ended load-1 row must close at tx=2, not vanish")
    assert(bt.count() == rowsOf(s2).size + 1,
      "history = the new snapshot plus the closed row")
  }

  test("bitemporalApply diff plans one shuffle per side (full-outer, no repeated legs)") {
    import graft.operators.Marts
    // Parquet-staged inputs (the d8 discipline) so each side is a real
    // scan: the one-pass full-outer diff must shuffle each side exactly
    // once — the structural form of the old three-join shape's
    // "one shuffle per side, IF ReuseExchange dedupes" claim.
    val dir = Files.createTempDirectory("graft-bt-plan")
    val idCols = Seq("k", "v")
    val prev0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Marts.bitemporalInit(prev0, 1L).write.parquet(s"$dir/prev")
    Seq((1L, "a"), (3L, "c")).toDF("k", "v").write.parquet(s"$dir/snap")
    val bt = Marts.bitemporalApply(
      spark.read.parquet(s"$dir/prev"), spark.read.parquet(s"$dir/snap"), 2L, idCols)
    bt.collect() // materialize so AQE settles the final plan
    // the AQE dump repeats the tree under "== Initial Plan ==" — count
    // exchanges in the final section only
    val plan = bt.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nExchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(nExchanges <= 2, s"diff must shuffle each side at most once:\n$plan")
    // and the diff itself stays oracle-shaped: carried + closed + fresh
    val got = bt.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set((1L, "a", 1L, -1L), (2L, "b", 1L, 2L), (3L, "c", 2L, -1L)))
  }

  test("compensation parsing: currency, period, bounds, annualization") {
    val cases = Seq(
      // (text, currency, period, min_annual, max_annual)
      ("$52,000 - $64,000 per year", "USD", "year", 52000L, 64000L),
      ("45k - 52k USD / year", "USD", "year", 45000L, 52000L),
      ("€45k – €52k / year", "EUR", "year", 45000L, 52000L),
      ("$30 - $45 per hour", "USD", "hour", 62400L, 93600L),
      ("£3,000 - £3,600 per month", "GBP", "month", 36000L, 43200L),
      // single number: lo = hi
      ("60k USD / year", "USD", "year", 60000L, 60000L))
    val got = cases.map(_._1).toDF("t").select(
        col("t"),
        Enrich.compCurrency(col("t")).as("c"),
        Enrich.compPeriod(col("t")).as("p"),
        (element_at(Enrich.compBounds(col("t")), 1) *
          Enrich.compAnnualFactor(col("t"))).as("lo"),
        (element_at(Enrich.compBounds(col("t")), 2) *
          Enrich.compAnnualFactor(col("t"))).as("hi"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    got.zip(cases).foreach { case (g, want) =>
      assert(g == want, s"parse(${want._1})")
    }
    // malformed: no number -> null bounds (filterable), currency still reads
    val bad = Seq("competitive salary").toDF("t")
      .select(Enrich.compBounds(col("t")).as("b")).collect()
    assert(bad.head.isNullAt(0), "numberless text must yield null bounds")
  }

  test("image codec roundtrip: real PNG encode/decode matches the closed-form pixel sums") {
    import graft.operators.Multimodal
    val ids = Seq(0L, 3L, 27L, 96L)
    val docs = ids.toDF("doc_id")
    val got = Multimodal.decodeImages(Multimodal.synthesizeImages(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    ids.foreach { id =>
      val (w, h) = Multimodal.testCardDims(id)
      val sr = (0 until w).map(x => (x + id) % 256).sum * h
      val sg = (0 until h).map(y => (3L * y + 7L * id) % 256).sum * w
      val sb = (0 until w).map(x => (2L * x + 5L * id) % 256).sum * h
      assert(got(id) == ((w, h, w.toLong * h, sr, sg, sb)),
        s"decoded stats of doc $id must equal the synthesis functions")
    }
    // the payload is a REAL PNG any external reader opens
    val payload = Multimodal.synthesizeImages(Seq(3L).toDF("doc_id"))
      .collect().head.getAs[Array[Byte]](1)
    assert(payload.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a), "PNG magic")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    assert(img != null && img.getWidth == 11 && img.getHeight == 11)
    // a non-image payload must fail LOUDLY, not flow downstream as zeros
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeImages(junk).collect()
    }
    assert(err.getMessage.contains("not a decodable image") ||
      Option(err.getCause).exists(_.getMessage.contains("not a decodable image")))
  }

  test("audio codec roundtrip: real WAV encode/decode matches the closed-form sample stats") {
    import graft.operators.Multimodal
    val ids = Seq(1L, 4L, 7L, 130L)
    val got = Multimodal.decodeAudio(Multimodal.synthesizeAudio(ids.toDF("doc_id")))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getInt(6), r.getInt(7))))
      .toMap
    ids.foreach { id =>
      val (sr, n) = Multimodal.testToneParams(id)
      val xs = (0 until n).map(i => Multimodal.testToneSample(id, i))
      assert(got(id) == ((sr, n.toLong, xs.map(_.toLong).sum,
        xs.map(x => math.abs(x).toLong).sum, xs.map(x => x.toLong * x).sum,
        xs.min, xs.max)),
        s"decoded stats of doc $id must equal the synthesis functions")
    }
    // the payload is a REAL RIFF/WAVE any external reader opens
    val payload = Multimodal.synthesizeAudio(Seq(9L).toDF("doc_id"))
      .collect().head.getAs[Array[Byte]](1)
    assert(new String(payload.take(4), "US-ASCII") == "RIFF" &&
      new String(payload.slice(8, 12), "US-ASCII") == "WAVE", "WAV magic")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    assert(ais.getFormat.getSampleRate == 16000f, "id 9 -> (9%4+1)*8000")
    // a non-WAV payload must fail LOUDLY, not flow downstream as zeros
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudio(junk).collect()
    }
  }

  test("perceptron trains exactly as a plain-Scala replay and scores every doc") {
    import graft.operators.Classifier
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and more filler words here"),
      (2L, "zz !!!! ??"),
      (5L, "the and on a plain sentence with some repeated repeated words the end"),
      (9L, "short"),
      (13L, "another reasonably long document with the usual and expected structure on display"),
      (17L, "!!!")).toDF("doc_id", "text")
    val stops = Seq("the", "and", "on")
    val feats = Classifier.qualityFeatures(docs, stops)
    val rows = feats.collect().map(r => r.getLong(0) ->
      Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // plain-Scala replay of the same fixed-point full-batch perceptron
    val labeled = rows.filter(_._1 % 4 == 1).toSeq.sortBy(_._1).map { case (_, x) =>
      (x, if (350 * x(1) + 250 * x(2) + 250 * x(3) + 150 * x(4) > 350000L) 1L else 0L)
    }
    assert(labeled.map(_._2).distinct.size == 2, "fixture must carry both classes")
    val w = Array.fill(5)(0L)
    for (r <- 0 until 12) {
      val g = Array.fill(5)(0L)
      labeled.foreach { case (x, y) =>
        val m = (0 until 5).map(j => w(j) * x(j)).sum
        val e = y - (if (m > 0) 1L else 0L)
        (0 until 5).foreach(j => g(j) += e * x(j))
      }
      (0 until 5).foreach(j => w(j) += (g(j) >> r)) // decaying shift step
    }
    val labeledDf = feats.filter(col("doc_id") % 4 === 1)
      .withColumn("y", when(col("x1") * 350 + col("x2") * 250 +
        col("x3") * 250 + col("x4") * 150 > 350000L, 1L).otherwise(0L))
    val wGot = Classifier.trainPerceptron(labeledDf, Classifier.featCols, "y", 12)
    assert(wGot.toSeq == w.toSeq,
      "distributed training must equal the sequential replay (exact integers)")
    // scoring: score and admit equal the closed form for EVERY doc
    Classifier.score(feats, Classifier.featCols, wGot.toSeq).collect()
      .foreach { r =>
        val x = rows(r.getLong(0))
        val m = (0 until 5).map(j => w(j) * x(j)).sum
        assert(r.getLong(1) == m && r.getInt(2) == (if (m > 0) 1 else 0))
      }
  }

  test("audioFrames: window arithmetic matches a plain-Scala replay; sub-window clips drop") {
    import graft.operators.Multimodal
    // doc 1: audio (1%3==1), 8000*2=16kHz; text length 100 -> 400 samples;
    // win=400, hop=160 -> nf = (400-400)/160+1 = 1 frame
    // doc 4: audio, 16 kHz; length 10 -> 40 samples < win -> no frames
    // doc 7: audio, 16 kHz; length 300 -> 1200 samples -> nf = 6; everyK=2 -> 0,2,4
    // doc 2: video (2%3==2) -> excluded
    val docs = Seq(
      (1L, "a" * 100), (4L, "b" * 10), (7L, "c" * 300), (2L, "d" * 100))
      .toDF("doc_id", "text")
    val got = Multimodal.audioFrames(docs, winMs = 25, hopMs = 10, everyK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val want = Set(
      (1L, 16000L, 0L, 0L, 25L),
      (7L, 16000L, 0L, 0L, 25L),
      (7L, 16000L, 2L, 20L, 45L),
      (7L, 16000L, 4L, 40L, 65L))
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)) == want,
      s"frame set mismatch: $got")
  }
}
