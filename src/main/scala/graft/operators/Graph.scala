package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.{Cut, Fixpoint, Lineage, Side}

/**
 * Iterative graph analytics — the operator class a corpus-curation
 * pipeline reaches for once documents/entities form a graph: link-style
 * authority scores as a quality prior (PageRank over a host/entity
 * graph, the CommonCrawl-lineage curation signal), seed-set proximity
 * (hop distance from a trusted whitelist), and local clustering
 * (per-node triangle counts — the community-density signal).
 *
 * Reference scope: the reference pipeline (filmozolevskiy/job-etl) has
 * no graph operators; this family extends the engine the same way the
 * dedup/ANN families do, with the reference's determinism discipline.
 *
 * Shared design rules:
 *  - EXACT integer arithmetic end to end. Ranks are scaled longs; every
 *    division is a single floor over exact-in-double operands (< 2^53,
 *    the BM25/t11 rule), so any engine replays the fixed-point chain
 *    bit-for-bit. No float accumulation anywhere.
 *  - The driver holds COORDINATOR STATE only (iteration counter, the
 *    frontier-exhausted flag, node count); per-round state lives in
 *    checkpointed distributed tables. Single-state loops run through
 *    [[graft.util.Lineage.iterate]] (one lineage cut per round, the
 *    superseded round's cut released as soon as the next exists); the
 *    two-state loops (seedDistance, hits) hold their cuts directly.
 *  - The static tables each round re-joins (edges + out-degrees) are
 *    PRE-PARTITIONED on the join key and cached, so every iteration
 *    re-shuffles only the (small) per-round state, never the edge list:
 *    InMemoryRelation preserves outputPartitioning, an eager checkpoint
 *    does not — this is why edges are cached, not checkpointed.
 */
object Graph {

  /** Round width for the iterative loops, sized to the DATA rather than
    * the session's cpu count (r17, guide §2.2/§6 partition sizing): the
    * per-round state these loops shuffle is node/edge-sized, and pinning
    * its width to `spark.sql.shuffle.partitions` (= cpus on the bench)
    * makes every round pay cpu-many task launches however tiny the
    * data — the measured reason the graph family scaled NEGATIVELY from
    * 8 to 32 cores at sf0.1 (r16 verdict item 2). ~512k edge rows per
    * partition amortizes per-task cost; the session's configured shuffle
    * width stays the CEILING, so a production cluster (thousands of
    * partitions configured, trillions of edges) keeps its parallelism —
    * only the tiny-data end stops over-splitting. */
  private def dataWidth(spark: org.apache.spark.sql.SparkSession,
      nRows: Long): Int = {
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(conf, math.ceil(nRows / 524288.0).toInt))
  }

  /** Stage a (`src`, `dst`) edge list for the round loops: cache the
    * caller's construction once to size the round width to the data (see
    * dataWidth), then cache it hash-partitioned on src — one construction
    * pass total. The caller unpersists the result. */
  private def stageEdges(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    try {
      val e = e0.repartition(dataWidth(edges.sparkSession, e0.count()), col("src")).persist()
      e.count()
      e
    } finally e0.unpersist(blocking = false)
  }

  /**
   * PageRank with damping 0.85 over a directed edge list (`src`, `dst`;
   * an undirected graph is passed as both directions), `iterations`
   * fixed power-iteration rounds, ranks as longs scaled by `scale`.
   *
   * Fixed-point iteration (both engines replay it identically):
   *   r0(v)   = floor(scale / N)
   *   c(u->v) = floor(85 * r(u) / (100 * outdeg(u)))   per edge
   *   r'(v)   = floor(15 * scale / (100 * N)) + Σ_in c(u->v)
   * Every operand stays < 2^53 for scale = 1e12 (85·r ≤ 8.5e13; the
   * in-sum is bounded by the conserved rank mass ≤ scale), so the
   * double-division floors are cross-engine deterministic.
   *
   * Scale shape: edges ⋈ outdeg is computed ONCE, hash-partitioned on
   * src, and cached — each of the K rounds shuffles only the rank table
   * (one exchange to src partitioning, one for the dst aggregation).
   * Rank state is cut per round by [[graft.util.Lineage.iterate]]
   * (lineage truncation, the superseded round released immediately).
   * Nodes without in-edges keep the teleport floor via the left join
   * from the node table. Dangling nodes (no OUT-edges) simply
   * contribute nothing — callers that need mass conservation add
   * reverse edges (the bipartite both-directions construction has none
   * by construction).
   *
   * `teleportSeeds` turns the uniform walk into TRUSTRANK (Gyöngyi et
   * al. 2004): the random jump lands ONLY on the trusted seed set —
   * init is floor(scale / |seeds|) on seeds (0 elsewhere) and the
   * per-round teleport floor(15·scale / (100·|seeds|)) likewise — so
   * rank becomes proximity-weighted trust: content far from every seed
   * earns almost none (the link-spam demotion signal a web-scale
   * curation pipeline runs beside uniform PageRank).
   *
   * `weightCol` makes the walk WEIGHTED (integer edge weights — link
   * multiplicity, purchase counts): a neighbor's share of u's mass is
   * w(u,v)/W(u) instead of 1/outdeg, i.e. c(u->v) =
   * floor(85·r(u)·w / (100·W(u))). The per-edge product 85·r·w must
   * not wrap Long — guarded against the ACTUAL max weight with
   * multiplyExact (r is bounded by the conserved mass ≤ scale), so an
   * over-weighted graph fails loudly, never silently.
   */
  def pageRank(edges: DataFrame, iterations: Int,
      scale: Long = 1000000000000L,
      teleportSeeds: Option[DataFrame] = None,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1, "at least one power-iteration round")
    val spark = edges.sparkSession
    // the caller's edge construction can be expensive (a join + distinct
    // at the catalog fixtures) and is consumed FOUR times below (both
    // sides of the degree join, both legs of the node union) — cache it
    // once so the construction materializes once, not four times
    val e = edges.select(Seq(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")) ++
      weightCol.map(w => col(w).cast("long").as("w")): _*).persist()
    // one count fills the cache EAGERLY (so nothing below re-runs the
    // construction concurrently) and sizes the round width to the data
    val width = dataWidth(spark, e.count())
    val outdeg = weightCol match {
      case None => e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      case Some(_) => e.groupBy("src").agg(sum(col("w")).as("outdeg"))
    }
    // explicit width: exempt from AQE coalescing (the e4 lesson) — this
    // partitioning is what every round's rank join aligns to
    val edgesDeg = e.join(outdeg, "src").repartition(width, col("src")).persist()
    val allNodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // per-node (init, tele): uniform over all nodes, or — seeded — the
    // seed set carries ALL jump mass and the rest start at zero
    val nodes = (teleportSeeds match {
      case None => allNodes.withColumn("is_seed", lit(true))
      case Some(sd) => allNodes.join(
          sd.select(col("id").cast("long").as("id")).distinct()
            .withColumn("is_seed", lit(true)),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    }).persist()
    try {
      val nBase = nodes.filter(col("is_seed")).count()
      require(nBase > 0,
        "empty graph (or no teleport seed appears as a graph node)")
      weightCol.foreach { _ =>
        // 85·r·w with r bounded by the conserved mass (≤ scale): the
        // per-edge numerator must not only stay in Long but stay UNDER
        // 2^53 — the contrib floor() runs through double, and the class
        // contract promises exact-in-double operands (the BM25 headroom
        // discipline); multiplyExact alone admits maxW where the
        // numerator silently loses low bits in the double cast
        val deg = edgesDeg.agg(max(col("w")), max(col("outdeg"))).head
        val (maxW, maxOutdeg) = (deg.getLong(0), deg.getLong(1))
        // Long overflow in the bound computation itself IS the bound
        // failing — fold it into the same descriptive message instead of
        // leaking a bare ArithmeticException from multiplyExact.
        val numerBound = try Seq(85L, scale, maxW)
          .reduce((a, b) => Math.multiplyExact(a, b))
        catch { case _: ArithmeticException => Long.MaxValue }
        require(numerBound < (1L << 53),
          s"weighted pageRank numerator bound 85*scale*maxW " +
            s"(scale=$scale, maxW=$maxW) exceeds 2^53: the floor(double) " +
            "contrib would round — lower `scale` or pre-scale weights")
        // the DENOMINATOR runs through double too: outdeg is a per-node
        // weight SUM, so it can blow past 2^53/100 even when every
        // individual weight passes the numerator check
        val denomBound = try Math.multiplyExact(100L, maxOutdeg)
        catch { case _: ArithmeticException => Long.MaxValue }
        require(denomBound < (1L << 53),
          s"weighted pageRank denominator bound 100*max(outdeg) " +
            s"(max weight sum per src = $maxOutdeg) exceeds 2^53: the " +
            "double-cast denominator would round — pre-scale weights")
      }
      val init = math.floor(scale.toDouble / nBase).toLong
      val teleport = math.floor(15.0 * scale / (100.0 * nBase)).toLong
      def seedLit(v: Long) = when(col("is_seed"), lit(v)).otherwise(lit(0L))
      val numer = weightCol match {
        case None => lit(85) * col("r")
        case Some(_) => lit(85) * col("r") * col("w")
      }
      Lineage.iterate(nodes.select(col("id"), seedLit(init).as("r")), iterations) { ranks =>
        // r'(v) = teleport(v) + Σ_in c(u->v) as ONE union-aggregate: the
        // cached node table contributes each node's teleport term (so
        // every node — in-edges or not — lands in the output exactly as
        // the former left join guaranteed) and the edge contributions
        // ride the same map-side-partial sum. One exchange per round
        // where groupBy(dst) + join(nodes) cost two (guide §2.4).
        val contrib = edgesDeg
          .join(ranks, edgesDeg("src") === ranks("id"))
          .select(col("dst").as("id"),
            floor(numer.cast("double") /
              (lit(100) * col("outdeg")).cast("double")).cast("long").as("c"))
        nodes
          .select(col("id"), seedLit(teleport).as("c"))
          .unionAll(contrib)
          .groupBy("id").agg(sum("c").as("r"))
      }.select(col("id"), col("r").as("rank_scaled"))
    } finally {
      e.unpersist(blocking = false)
      edgesDeg.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /**
   * Minimum hop distance from a seed set, capped at `maxHops` —
   * seed-proximity curation (distance from a trusted whitelist as a
   * quality prior; nodes unreached within the cap are absent from the
   * output, which is the honest answer at 100 TB where the full closure
   * is never materialized).
   *
   * Frontier BFS: per hop, the NEW frontier is frontier ⋈ edges minus
   * everything already labeled (anti-join) — each node is labeled at
   * most once, so total work is O(E · diameter-visited) and per-round
   * state is the (shrinking) frontier plus the label table. Early exit
   * when the frontier empties (a count — coordinator scalar, the l7
   * convergence precedent). Edges are pre-partitioned on src and cached
   * once; labels/frontier are checkpointed per round.
   */
  def seedDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = stageEdges(edges)
    try {
      // two live states per hop (labels + frontier), so the cuts are held
      // here rather than through Lineage.iterate
      var dist = Lineage.cut(seeds.select(col("id").cast("long").as("id")).distinct()
        .withColumn("dist", lit(0L)))
      var front = Option.empty[Cut]
      try {
        var frontier = dist.df.select("id")
        var frontierNonEmpty = frontier.limit(1).count() > 0
        var hop = 1
        while (frontierNonEmpty && hop <= maxHops) {
          val nf = Lineage.cut(frontier
            .join(e, frontier("id") === e("src"))
            .select(col("dst").as("id")).distinct()
            .join(dist.df, Seq("id"), "left_anti"))
          front.foreach(_.release()); front = Some(nf)
          val nd = Lineage.cut(dist.df.unionAll(nf.df.withColumn("dist", lit(hop.toLong))))
          dist.release(); dist = nd
          frontier = nf.df
          frontierNonEmpty = frontier.limit(1).count() > 0
          hop += 1
        }
        front.foreach(_.release())
        dist.df
      } catch {
        case ex: Throwable => dist.release(); front.foreach(_.release()); throw ex
      }
    } finally e.unpersist(blocking = false)
  }

  /**
   * Per-node triangle counts over an undirected simple graph given as
   * canonical edges (`a` < `b`, distinct). The local clustering signal:
   * how interconnected a node's neighborhood is.
   *
   * Degree-ordered node-iterator (the standard distributed form): orient
   * every edge from its lower-(degree, id) endpoint to the higher one —
   * each wedge is then enumerated exactly once at its lowest-ordered
   * apex, and per-apex out-degree is O(sqrt(2m)) on any graph, which
   * bounds the wedge join's worst key fan-out (the skew argument that
   * makes this survive hub nodes at scale). A wedge (v, w) closes iff
   * its canonical (min, max) pair is an edge — one hash join against the
   * canonical edge set. Each triangle is found once and credited to all
   * three corners via explode.
   */
  /**
   * Common-neighbor link prediction over an undirected simple graph
   * (canonical `a` < `b` edges): for every NON-adjacent pair (v, w),
   * the number of shared neighbors — the classic candidate-generation
   * score (recommendations, entity-resolution candidates, "you may
   * also know").
   *
   * Scale guard: wedge enumeration at an apex costs deg² and a full
   * count MUST visit every apex (unlike [[triangleCounts]], whose
   * degree orientation can't be used here — it would undercount pairs
   * whose common neighbor outranks them), so apexes with degree >
   * `apexCap` are EXCLUDED BY SPECIFICATION — the "too generic to be
   * informative" rule every production candidate generator applies
   * (a hub shared by everyone predicts nothing). Deterministic, applied
   * identically in any engine; cost is Σ min(deg, cap)². Pairs already
   * adjacent are removed with one anti-join against the edge set.
   *
   * Returns (v, w, n_common) with v < w, n_common counted over kept
   * apexes only.
   */
  def commonNeighborCandidates(canonicalEdges: DataFrame,
      apexCap: Int): DataFrame = {
    require(apexCap >= 1, "apexCap must be positive")
    val e = Lineage.cut(canonicalEdges.select(
      col("a").cast("long").as("a"), col("b").cast("long").as("b"))).df
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val kept = adj.join(deg.filter(col("deg") <= apexCap), "u").select("u", "v")
    val wedges = kept.join(kept.select(col("u"), col("v").as("w")), "u")
      .filter(col("v") < col("w"))
    wedges.groupBy("v", "w").agg(count(lit(1)).as("n_common"))
      .join(e.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"), "left_anti")
  }

  /**
   * Synchronous label propagation (Raghavan et al. 2007) over a directed
   * edge list (`src`, `dst`; pass both directions for an undirected
   * graph), `iterations` fixed rounds — COMMUNITY detection, the signal
   * [[Dedup.connectedComponents]] cannot give: components answer "is
   * there any path", labels answer "which dense cluster does this node
   * sit in" (near-dup families inside one giant connected blob, topic
   * clusters on a co-occurrence graph). A curation pipeline runs it to
   * pick per-community representatives the way l21 picks per-component
   * survivors.
   *
   * Fixed-point update (both engines replay it identically — all-integer,
   * no scores, no floors needed):
   *   lab0(v)  = v
   *   lab'(v)  = argmax over labels L of |{u -> v : lab(u) = L}|,
   *              ties broken by the SMALLEST label; nodes with no
   *              in-edges keep their label.
   * Synchronous rounds with a deterministic tie-break make the chain a
   * pure function of the edge set — no vertex-visit order dependence
   * (the asynchronous variant's nondeterminism is exactly what a
   * cross-engine oracle cannot replay).
   *
   * Scale shape: the edge list is hash-partitioned on src once and
   * cached; each round shuffles only the label table (one exchange to
   * src partitioning, one partial-aggregated (dst, lab) count whose
   * second per-dst argmax fold moves one row per DISTINCT neighbor
   * label, not per edge). The argmax is max(struct(count, -lab)) — a
   * plain aggregate, no sort window. Per-round state is cut by
   * [[graft.util.Lineage.iterate]], the superseded round released
   * immediately.
   */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "at least one propagation round")
    val e = stageEdges(edges)
    try {
      val nodes = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
      Lineage.iterate(nodes.select(col("id"), col("id").as("lab")), iterations) { labels =>
        // the "no in-edges keep their label" rule rides the vote union as
        // a zero-count self-row instead of a per-round left join: a real
        // vote (c >= 1) always beats the self-row (c = 0) in the argmax,
        // and a node with no votes keeps its own label — exactly the old
        // coalesce semantics, two exchanges per round instead of three
        // plus a join (guide §2.4)
        val votes = e.join(labels, e("src") === labels("id"))
          .select(e("dst").as("id"), col("lab"), lit(1L).as("c"))
          .unionAll(labels.select(col("id"), col("lab"), lit(0L).as("c")))
          .groupBy("id", "lab")
          .agg(sum("c").as("c"))
        // argmax by (count desc, lab asc): struct compares fields in
        // order, so max(struct(c, -lab)) is the fully tie-broken pick
        votes.groupBy("id")
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("id"), (-col("m.nl")).as("lab"))
      }
    } finally e.unpersist(blocking = false)
  }

  /**
   * K-CORE of an undirected graph by synchronous peeling: repeatedly
   * delete every node whose remaining degree is below `k` (and its
   * edges) until a round deletes nothing; what survives is the maximal
   * subgraph where everyone keeps >= k neighbors — the graph-density
   * analog of a quality floor (a node's raw degree is gameable by
   * attaching spam leaves; its CORE membership is not, because the
   * leaves peel away first — the classic link-farm demotion signal,
   * complementing pageRank's authority and triangleCounts' local
   * clustering). Input is the canonical (`a` < `b`) edge list; output is
   * (id, core_degree) for surviving nodes, degree measured INSIDE the
   * core.
   *
   * Determinism: peeling is a monotone fixed point — the k-core is
   * unique and round-synchronous deletion is order-free integer
   * arithmetic, so a SQL oracle unrolls the rounds verbatim (rounds
   * past the fixed point are identities, so an oracle unrolled to
   * `maxRounds` matches an engine that stopped early). A graph still
   * peeling after `maxRounds` THROWS (the l7 non-convergence
   * discipline) rather than returning a not-yet-core.
   *
   * Scale shape: each round is one degree aggregate (map-side partial
   * on both endpoint legs) plus two left-semi joins against the
   * surviving-node set — every shuffle carries the CURRENT edge set,
   * which only shrinks; per-round state is cut by
   * [[graft.util.Lineage.iterate]] (the superseded round released
   * immediately), and convergence is its fixpoint on the edge count — a
   * 1-row count, genuine coordinator state, counted by each round's own
   * cut job. Real graphs converge in few
   * synchronous rounds (each round peels a whole degeneracy layer); at
   * 100 TB the edge diet after round 1 is the dominant saving, since
   * degree-<k leaves are the bulk of a web-scale graph.
   */
  def kCore(canonicalEdges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "need k >= 1 and at least one round")
    val e = Lineage.iterate(
      canonicalEdges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b")),
      maxRounds, fixpoint = Some(Fixpoint(Side.rows,
        s"k-core still peeling after $maxRounds rounds — raise maxRounds"))) { cur =>
      val deg = cur.select(col("a").as("id"))
        .unionAll(cur.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("id")
      cur.join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
    }
    e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
  }

  /**
   * NEIGHBORHOOD MEAN AGGREGATION — the GNN data-prep layer
   * (GraphSAGE-mean, Hamilton et al. 2017): layer k's representation of
   * node v is the mean of its in-neighbors' layer k-1 values, `layers`
   * times — the feature-engineering shape every graph-ML pipeline runs
   * over a corpus graph before training (2-hop aggregation puts "what
   * do my neighbors' neighbors look like" into a flat feature column).
   * Unlike [[pageRank]] there is no fixed point — the layer count IS
   * the semantics (receptive-field radius).
   *
   * Cross-engine exactness: values live in INTEGER MICRO-UNITS
   * (value·10^6 as longs — the caller scales its features once) and
   * each layer's mean is the exact half-up integral division
   * (2·Σ + n) div (2·n), with Σ folded through an exact DECIMAL(38,0)
   * sum so no graph size can overflow the accumulator — all-integer end
   * to end, so a SQL oracle replays every layer bit for bit with NO
   * float rounding seam (a round(double, 6) mean here measurably
   * diverges between engines on exact .5·10^-7 midpoints, which 6-dp
   * layer inputs make common). CONTRACT: feature values must be
   * NON-NEGATIVE (enforced below) — DIV truncates toward zero in both
   * engines, so the half-up identity (2·Σ + n) div (2·n) only holds for
   * Σ ≥ 0 (sum = -7, n = 3 would truncate to -1 where half-up is -2);
   * non-negative inputs keep every layer's means non-negative, so the
   * single input check covers all layers. Each layer's mean is over the
   * in-neighbors that CARRY a value; a node whose neighbors are all
   * valueless (or that has no in-neighbors) carries NULL, and the null
   * propagates outward one hop per layer (mean of nothing is not 0 — a
   * silent zero would poison downstream normalization).
   *
   * Scale shape: pageRank's [[graft.util.Lineage.iterate]] loop without
   * the iteration-to-convergence — edges hash-partitioned on src ONCE
   * and cached, each layer shuffles only the (node, value) table (one
   * exchange to src partitioning via the join, one partial-aggregated
   * mean per dst); K layers = K small shuffles, never K edge
   * materializations.
   */
  def neighborMeanAgg(edges: DataFrame, features: DataFrame,
      layers: Int): DataFrame = {
    require(layers >= 1, "at least one aggregation layer")
    val e = stageEdges(edges)
    try {
      // the node set is cut like the per-layer state — without lineage
      // truncation layer k re-embeds every prior layer's joins into one
      // deep plan — and released once the last layer is materialized
      val nodes = Lineage.cut(e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct())
      try {
        var layer = 0
        Lineage.iterate(features.select(col("id").cast("long").as("id"),
            col("x").cast("long").as("h")), layers) { h =>
          // DIV-truncation contract (see Scaladoc): half-up only holds for
          // non-negative sums; one min() over the checkpointed, node-count-
          // sized feature table (layer 1's input) guards every layer
          if (layer == 0) {
            val minH = h.agg(min(col("h"))).head
            require(minH.isNullAt(0) || minH.getLong(0) >= 0L,
              s"neighborMeanAgg requires non-negative feature values " +
                s"(half-up DIV identity breaks on negative sums); min = " +
                s"${minH.getLong(0)}")
          }
          layer += 1
          // every node rides the aggregate as a null-valued base row from
          // the checkpointed node table: sum/count ignore the null, so a
          // node with no valued in-neighbors keeps n = 0 and emits NULL —
          // exactly the old left join's semantics, one exchange per layer
          // instead of an aggregate plus a node-table join (guide §2.4)
          e.join(h, e("src") === h("id"))
            .select(e("dst").as("id"), col("h"))
            .unionAll(nodes.df.select(col("id"), lit(null).cast("long").as("h")))
            .groupBy("id")
            .agg(
              sum(col("h").cast("decimal(38,0)")).as("sd"),
              count(col("h")).as("n"))
            .select(col("id"),
              when(col("n") > 0,
                expr("CAST((2 * sd + n) DIV (2 * n) AS BIGINT)")).as("h"))
        }
      } finally nodes.release()
    } finally e.unpersist(blocking = false)
  }

  def triangleCounts(canonicalEdges: DataFrame): DataFrame = {
    // the edge list is consumed FIVE times (degree legs, orientation,
    // both wedge sides, the closing probe): materialize it once with an
    // eager checkpoint or every reuse re-embeds the caller's whole edge
    // construction into the plan (measured: 67 initial-plan exchanges on
    // the co-occurrence entry vs 8 after — the l7 final-label precedent;
    // the bench's between-query reaper reclaims the blocks)
    val e = Lineage.cut(canonicalEdges.select(
      col("a").cast("long").as("a"), col("b").cast("long").as("b"))).df
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient: lower (deg, id) endpoint -> higher. Join the two degree
    // lookups, then pick direction per edge.
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
    val oriented = withDeg.select(
      when(col("dega") < col("degb") ||
          (col("dega") === col("degb") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
    // wedges at apex u: unordered {v, w} pairs of out-neighbors
    val o2 = oriented.select(col("u"), col("v").as("w"))
    val wedges = oriented.join(o2, "u").filter(col("v") < col("w"))
    // wedge pairs carry v < w by the filter and the edge set is already
    // canonical a < b, so the closing check is a direct equi-join
    val closed = wedges.join(
      e.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
    closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * DETERMINISTIC RANDOM WALKS (DeepWalk/node2vec corpus generation,
   * Perozzi et al. 2014) — the graph-ML data-prep pass that turns a
   * graph into a training corpus: one walk per node, up to `length`
   * steps, each step choosing a neighbor "at random". CONTRACT: a walk
   * that reaches a SINK (a node with no out-edges) TRUNCATES there —
   * the frontier join is inner, so the walk simply stops emitting
   * (DeepWalk's standard directed-graph behavior; random-restart is a
   * caller policy, not imposed here). On an undirected edge list (both
   * directions present, the g10 fixture) no sink exists and every walk
   * is full-length. Randomness is DERIVED, not
   * drawn: step k of the walk seeded at s standing on node u picks
   * neighbor rank (md5int(s|k|u|salt) mod outdeg(u)) + 1 in the
   * dst-ordered adjacency — exactly the hashFraction discipline (md5 is
   * the only hash both engines share), so the whole corpus replays
   * bit-for-bit in any engine and is immune to partitioning/retry
   * nondeterminism (a real RNG here would make every retry a different
   * corpus — the c1/c2 salted-hash rule applied to walk steps).
   *
   * Scale shape: the ranked adjacency (row_number + count over the
   * src partition — ONE exchange, two window passes) is computed once,
   * hash-partitioned on src and cached; each of the `length` steps
   * shuffles only the walk FRONTIER (|nodes| rows) against it. Walk
   * count grows with nodes, per-step cost is one equi-join — linear in
   * nodes·length, never edge-quadratic. Multi-edges (same src,dst pair
   * appearing twice) act as walk bias: duplicate ranks point at the
   * same dst, so the chosen NODE stays well-defined under the
   * nondeterministic row_number among equal dst values.
   *
   * Output: (walk_id = seed node, step 0..length, node_id, the walk
   * corpus in long form — the skip-gram window builder consumes this
   * directly).
   */
  def randomWalks(edges: DataFrame, length: Int, salt: String): DataFrame = {
    require(length >= 1, "need at least one step")
    import org.apache.spark.sql.expressions.Window
    val spark = edges.sparkSession
    // the caller's edge construction is consumed twice below (the ranked
    // window and the degree aggregate) — cache it once, and size the
    // step width to the data (dataWidth — the r17 scaling fix)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    val width = dataWidth(spark, e.count())
    val bySrc = Window.partitionBy("src")
    // r17: each adjacency row also carries its DESTINATION's out-degree
    // (left join against the node-sized degree table — absent for sinks),
    // so the frontier can carry outdeg(cur) forward and compute its
    // chosen rank BEFORE the step join (below). deg derives from the
    // same cached edge frame with one aggregate.
    val deg = e.groupBy(col("src").as("d_id"))
      .agg(count(lit(1)).as("d_outdeg"))
    val adj = e
      .withColumn("rn", row_number().over(bySrc.orderBy("dst")))
      .withColumn("outdeg", count(lit(1)).over(bySrc))
      .join(deg.select(col("d_id").as("dst"), col("d_outdeg").as("dst_outdeg")),
        Seq("dst"), "left")
      // explicit width: exempt from AQE coalescing — every step's
      // frontier join aligns to this partitioning (the pageRank rule)
      .repartition(width, col("src")).persist()
    def stepHash(step: Int) = conv(substring(md5(concat_ws("|",
      col("walk_id").cast("string"), lit(step.toString),
      col("cur").cast("string"), lit(salt))), 1, 8), 16, 10).cast("long")
    try {
      // each frontier is eagerly materialized per step (localCheckpoint):
      // without it level k's lazy plan re-derives joins 1..k, so a
      // length-L walk costs L·(L+1)/2 joins instead of L (measured: the
      // un-checkpointed form read 6.5 s where this reads ~2 s at sf0.1),
      // and the final union would re-probe the adjacency cache after the
      // finally below drops it. Every level is emitted, so no frontier
      // block is ever superseded — nothing to drop mid-loop; the
      // between-query reaper reclaims the node-sized blocks.
      // seed walks from the CACHED adjacency, not the raw edge frame —
      // reading `e` here would re-run the caller's whole edge
      // construction (a join + distinct at the catalog fixture) a second
      // time; adj's cache already holds every src
      // the frontier carries outdeg(cur) so each step can compute the
      // picked rank rn_pick = pmod(md5(walk|k|cur|salt), outdeg) + 1 as a
      // PROJECTION over the frontier — md5 once per WALK — and the step
      // join becomes a pure two-column EQUI join on (cur, rn_pick) =
      // (src, rn). The r16 shape carried the md5 inside the join
      // condition, evaluated once per CANDIDATE edge (Σ outdeg(cur) per
      // step, ~500x the walk count on this fixture), and planner state
      // could amplify it further (the in-suite g10 pathology this
      // replaces — see OPTIMIZATION_r17.md item 1). Guide §3/§2.3:
      // decide with small rows, keep expensive expressions off the
      // join's per-pair path.
      var frontier = adj.select(col("src").as("walk_id"), col("outdeg"))
        .distinct()
        .select(col("walk_id"), col("walk_id").as("cur"),
          col("outdeg").as("cur_outdeg"))
        .transform(Lineage.cut(_).df)
      val out = Seq.newBuilder[DataFrame]
      out += frontier.select(col("walk_id"), lit(0L).as("step"),
        col("cur").as("node_id"))
      (1 to length).foreach { k =>
        // a sink (no out-edges) carries cur_outdeg NULL: rn_pick is NULL
        // and the inner equi join emits nothing — the walk truncates
        // exactly as the old inner join on src did
        val picked = frontier.select(col("walk_id"), col("cur"),
          (pmod(stepHash(k), col("cur_outdeg")) + 1).as("rn_pick"))
        val joined = picked
          .join(adj, picked("cur") === adj("src") &&
            picked("rn_pick") === adj("rn").cast("long"))
          .select(col("walk_id"), col("dst").as("cur"),
            col("dst_outdeg").as("cur_outdeg"))
        frontier = Lineage.cut(joined).df
        out += frontier.select(col("walk_id"), lit(k.toLong).as("step"),
          col("cur").as("node_id"))
      }
      out.result().reduce(_ unionAll _)
    } finally {
      adj.unpersist(blocking = false)
      e.unpersist(blocking = false)
    }
  }

  /**
   * SKIP-GRAM TRAINING PAIRS from a walk corpus ([[randomWalks]]'s
   * consumer — together they are the DeepWalk pipeline): every ordered
   * (center, context) node pair co-occurring within `window` steps on
   * the same walk, aggregated to co-occurrence counts — the exact
   * input table of a word2vec/node-embedding trainer (and, with the
   * counts, of a PMI/lift factorization, t16's discipline on walks).
   *
   * Scale shape: the self-join keys on walk_id, so each join partition
   * holds whole walks of length+1 rows — per-walk pair work is the
   * CONSTANT (length+1)·2·window, never corpus-quadratic — and the
   * count aggregation is one shuffle on (center, context) with
   * map-side partials, bounded by nodes·length·2·window rows. Counts
   * are exact longs; both directions are emitted (standard skip-gram
   * symmetry), self-pairs excluded by step inequality.
   */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "window must be positive")
    val a = walks.select(col("walk_id"), col("step").as("i"),
      col("node_id").as("center_id"))
    val b = walks.select(col("walk_id"), col("step").as("j"),
      col("node_id").as("context_id"))
    a.join(b, Seq("walk_id"))
      .filter(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .groupBy("center_id", "context_id")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
   * list — the asymmetric companion to [[pageRank]]: on a purchase
   * graph pointing customer→supplier, hub score ranks customers by how
   * much authoritative supply they touch and authority score ranks
   * suppliers by how much hub demand touches them. The mutual
   * reinforcement is the point — neither score is a degree count.
   *
   * Fixed-point iteration with L∞ (max) normalization — the
   * integer-friendly power-iteration normalizer (any positive rescale
   * preserves the eigenvector direction; max keeps every operand an
   * exact long both engines floor identically):
   *   h0(u)     = scale                        for every src node
   *   aRaw_k(v) = Σ_{u→v} h_{k-1}(u)           exact long sum
   *   a_k(v)    = floor(scale·aRaw_k(v) / max aRaw_k)
   *   hRaw_k(u) = Σ_{u→v} a_k(v)
   *   h_k(u)    = floor(scale·hRaw_k(u) / max hRaw_k)
   * Each round's two max scalars are the ONLY driver state (the Lloyd
   * coordinator discipline), and scale·maxRaw is guarded under 2^53
   * per half-step (multiplyExact; the weighted-pageRank rule), so the
   * double-division floors are cross-engine deterministic.
   *
   * Scale shape: the edge list is cached TWICE, hash-partitioned on
   * src and on dst, because each round joins it from both sides — the
   * per-round shuffles then touch only the node-sized score tables
   * (pageRank's shape, mirrored). Each half-step's RAW sums are cut
   * ([[graft.util.Lineage.cut]]) before the max scalar is read, so the
   * edge join+aggregate materializes once per half-step and the
   * normalized projection is a narrow map over the cut; a half-step's
   * superseded cut is released as soon as its successor exists. Two
   * live states per round, so the cuts are held here rather than through
   * [[graft.util.Lineage.iterate]]. Output: one
   * row per node, hub_scaled for src-side nodes, auth_scaled for
   * dst-side, zero where a node plays no such role.
   */
  def hits(edges: DataFrame, iterations: Int, scale: Long): DataFrame = {
    require(iterations >= 1 && scale >= 1, "need iterations and a positive scale")
    val spark = edges.sparkSession
    // cache the raw construction once and size the round width to the
    // data (dataWidth — the r17 scaling fix); the count doubles as the
    // empty-graph gate AND the deliberate full cache fill the r16 advice
    // asked for (limit(1) only materialized the partitions scanned
    // before the first row)
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).persist()
    val nEdges = e0.count()
    val width = dataWidth(spark, nEdges)
    val eSrc = e0.repartition(width, col("src")).persist()
    // eDst and the hub init both derive from eSrc's CACHE, so the
    // caller's edge construction — a join + distinct at the catalog
    // fixture — materializes once, not three times
    val eDst = eSrc.repartition(width, col("dst")).persist()
    var hubCut = Option.empty[Cut]
    var authCut = Option.empty[Cut]
    try {
      require(nEdges > 0, "empty graph")
      eSrc.count()
      e0.unpersist(blocking = false)
      // The RAW half-step (edge join + sum) is cut FIRST; both
      // consumers — the max scalar and the normalized projection the
      // next half-step joins against — then read the materialized
      // frame, so each half-step's join+aggregate runs exactly once
      // per round (not once for the max and again at the next cut).
      def normalize(rawCp: DataFrame, side: String): DataFrame = {
        val maxRaw = rawCp.agg(max(col("raw"))).head.getLong(0)
        val bound = try Math.multiplyExact(scale, maxRaw)
        catch { case _: ArithmeticException => Long.MaxValue }
        require(bound < (1L << 53),
          s"HITS $side bound scale*maxRaw = $scale*$maxRaw exceeds 2^53: " +
            "the floor(double) normalizer would round — lower `scale`")
        rawCp.select(col("id"),
          floor((col("raw") * scale).cast("double") / maxRaw.toDouble)
            .cast("long").as("r"))
      }
      // the fresh cut replaces (and releases) its predecessor BEFORE
      // normalize can throw (its 2^53 bound require), so the error path
      // below always holds exactly the live cuts
      def advance(live: Option[Cut], df: DataFrame): Option[Cut] = {
        val next = Lineage.cut(df)
        live.foreach(_.release())
        Some(next)
      }
      hubCut = advance(hubCut, eSrc.select(col("src").as("id")).distinct()
        .select(col("id"), lit(scale).as("r")))
      var hubs = hubCut.get.df
      var auths: DataFrame = null
      (1 to iterations).foreach { _ =>
        authCut = advance(authCut, eSrc.join(hubs, eSrc("src") === hubs("id"))
          .groupBy(eSrc("dst").as("id")).agg(sum(col("r")).as("raw")))
        auths = normalize(authCut.get.df, "authority")
        hubCut = advance(hubCut, eDst.join(auths, eDst("dst") === auths("id"))
          .groupBy(eDst("src").as("id")).agg(sum(col("r")).as("raw")))
        hubs = normalize(hubCut.get.df, "hub")
      }
      hubs.select(col("id"), col("r").as("hub_scaled"))
        .join(auths.select(col("id"), col("r").as("auth_scaled")),
          Seq("id"), "full")
        .select(col("id"),
          coalesce(col("hub_scaled"), lit(0L)).as("hub_scaled"),
          coalesce(col("auth_scaled"), lit(0L)).as("auth_scaled"))
    } catch {
      case err: Throwable => (hubCut ++ authCut).foreach(_.release()); throw err
    } finally {
      e0.unpersist(blocking = false)
      eSrc.unpersist(blocking = false)
      eDst.unpersist(blocking = false)
    }
  }
}
