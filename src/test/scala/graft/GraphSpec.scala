package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Graph family vs plain-Scala references on crafted graphs. */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** both-directions edge DataFrame from undirected pairs. */
  private def undirected(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("pageRank matches a plain-Scala fixed-point replay") {
    // square with one diagonal 2-4: degrees 2,3,2,3
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val scale = 1000000000000L
    val iters = 5
    // reference: the exact scaled-integer chain from Graph.pageRank's doc
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val outdeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val teleport = math.floor(15.0 * scale / (100.0 * n)).toLong
    var r = nodes.map(_ -> math.floor(scale.toDouble / n).toLong).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) =>
          math.floor(85.0 * r(u) / (100.0 * outdeg(u))).toLong
        }.sum
      }
      r = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    val got = Graph.pageRank(undirected(pairs), iters, scale)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r)
    // higher-degree nodes outrank lower-degree ones on this graph
    assert(got(2L) > got(1L) && got(4L) > got(3L))
  }

  test("pageRank with teleportSeeds replays the TrustRank chain") {
    // path 1-2-3-4: seed the walk at node 1 only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = pairs ++ pairs.map(p => (p._2, p._1))
    val scale = 1000000000000L
    val iters = 4
    val seeds = Set(1L)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).map { case (k, es) => k -> es.size.toLong }
    val nSeed = seeds.size
    val tele = math.floor(15.0 * scale / (100.0 * nSeed)).toLong
    val init = math.floor(scale.toDouble / nSeed).toLong
    var r = nodes.map(v => v -> (if (seeds(v)) init else 0L)).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) =>
          math.floor(85.0 * r(u) / (100.0 * outdeg(u))).toLong
        }.sum
      }
      r = nodes.map(v => v -> ((if (seeds(v)) tele else 0L) + in.getOrElse(v, 0L))).toMap
    }
    val got = Graph.pageRank(undirected(pairs), iters, scale,
      teleportSeeds = Some(Seq(1L).toDF("id")))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r)
    // the seed holds the most trust; the far end the least (no strict
    // monotone decay claim — an undirected endpoint reflects its whole
    // mass back, so node 3 can outrank node 2)
    assert(got(1L) == got.values.max && got(4L) == got.values.min)
  }

  test("weighted pageRank replays the biased chain; unit weights degenerate to uniform") {
    // triangle 1-2-3 with edge (1,2) carrying weight 5, others 1
    val wpairs = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 1L))
    val wedges = wpairs ++ wpairs.map(p => (p._2, p._1, p._3))
    val scale = 1000000000000L
    val iters = 4
    val nodes = Seq(1L, 2L, 3L)
    val wsum = wedges.groupBy(_._1).map { case (k, es) => k -> es.map(_._3).sum }
    val teleport = math.floor(15.0 * scale / (100.0 * 3)).toLong
    var r = nodes.map(_ -> math.floor(scale.toDouble / 3).toLong).toMap
    (1 to iters).foreach { _ =>
      val in = wedges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) =>
          math.floor(85.0 * r(u) * w / (100.0 * wsum(u))).toLong
        }.sum
      }
      r = nodes.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    val df = wedges.toDF("src", "dst", "w")
    val got = Graph.pageRank(df, iters, scale, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r)
    // the heavy 1-2 edge pulls mass into 1 and 2 at 3's expense
    assert(got(3L) == got.values.min)
    // w = 1 everywhere == the unweighted walk, value for value
    val ones = wedges.map(p => (p._1, p._2, 1L)).toDF("src", "dst", "w")
    val uw = Graph.pageRank(ones.select("src", "dst"), iters, scale)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wOnes = Graph.pageRank(ones, iters, scale, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(uw == wOnes)
  }

  test("pageRank keeps teleport mass for a node with no in-edges") {
    // directed-only: 1 -> 2 -> 3; node 1 has no in-edges
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, 3, 1000000L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val teleport = math.floor(15.0 * 1000000L / (100.0 * 3)).toLong
    assert(got(1L) == teleport) // survives every round at exactly teleport
    assert(got.keySet == Set(1L, 2L, 3L))
  }

  test("seedDistance labels min hops, capped, unreached absent") {
    // path 1-2-3-4-5 plus isolated edge 10-11; seeds = {1, 10}
    val edges = undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)))
    val got = Graph.seedDistance(edges, Seq(1L, 10L).toDF("id"), maxHops = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 0L, 11L -> 1L))
    // node 4 is 3 hops out: beyond the cap, absent — and a seed absent
    // from the graph still labels itself at 0
    val got2 = Graph.seedDistance(edges, Seq(99L).toDF("id"), maxHops = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got2 == Map(99L -> 0L))
  }

  test("seedDistance takes the SHORTEST route when routes differ") {
    // ring 1-2-3-4-5-6-1: node 4 is 3 hops clockwise, 3 counter; node 5 is 2
    val edges = undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L)))
    val got = Graph.seedDistance(edges, Seq(1L).toDF("id"), maxHops = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 6L -> 1L, 3L -> 2L, 5L -> 2L, 4L -> 3L))
  }

  test("commonNeighborCandidates: hub apex excluded, adjacent pairs dropped") {
    // star hub 100 -> {1..5} (deg 5) plus path edges (1,2), (2,3)
    val e = (Seq((1L, 2L), (2L, 3L)) ++ (1L to 5L).map(i => (i, 100L))).toDF("a", "b")
    def run(cap: Int) = Graph.commonNeighborCandidates(e, cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // cap 4 excludes the hub as an apex: only apex 2 ({100,1,3}) yields a
    // non-adjacent pair, (1,3); pairs through the hub vanish
    assert(run(4) == Map((1L, 3L) -> 1L))
    // uncapped: the hub contributes every non-adjacent pair among 1..5
    val full = run(100)
    assert(full((1L, 3L)) == 2L) // via hub AND via node 2
    assert(full((4L, 5L)) == 1L && full((1L, 4L)) == 1L)
    assert(!full.contains((1L, 2L)) && !full.contains((2L, 3L))) // adjacent
  }

  test("triangleCounts: K4 plus a pendant vs the closed-form answer") {
    // K4 on {1,2,3,4}: 4 triangles, each node in 3; pendant 5 in none
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val got = Graph.triangleCounts(e)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("labelPropagation matches a plain-Scala synchronous replay") {
    // deterministic pseudo-random graph over 40 nodes (denser tail so
    // real frequency votes — not just 1-vote ties — occur)
    val nodes = (1L to 40L)
    val pairs = for {
      i <- nodes; j <- nodes if i < j
      if md5hex(s"lp|$i|$j").charAt(0) <= '2'
    } yield (i, j)
    val both = pairs ++ pairs.map(p => (p._2, p._1))
    val inNbrs = both.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    val rounds = 4
    var lab = nodes.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      lab = nodes.map { v =>
        inNbrs.get(v) match {
          case None => v -> lab(v)
          case Some(us) =>
            val counts = us.map(lab).groupBy(identity)
              .map { case (l, xs) => (l, xs.size) }
            v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }.toMap
    }
    val got = Graph.labelPropagation(undirected(pairs), rounds)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == lab)
    // propagation happened: fewer distinct labels than nodes
    assert(got.values.toSet.size < nodes.size)
  }

  test("labelPropagation keeps the label of a node with no in-edges") {
    // directed chain 1 -> 2 -> 3: node 1 has no voters and keeps itself
    val got = Graph.labelPropagation(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
  }

  test("triangleCounts matches brute force on a hashed random graph") {
    // deterministic pseudo-random graph: edge (i,j) iff md5(i|j) starts 0-3
    val nodes = (1L to 30L)
    val pairs = for {
      i <- nodes; j <- nodes if i < j
      if md5hex(s"$i|$j").charAt(0) <= '3'
    } yield (i, j)
    val edgeSet = pairs.toSet
    val brute = (for {
      i <- nodes; j <- nodes if i < j; k <- nodes if j < k
      if edgeSet((i, j)) && edgeSet((j, k)) && edgeSet((i, k))
    } yield Seq(i, j, k)).flatten
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    val got = Graph.triangleCounts(pairs.toDF("a", "b"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == brute)
  }

  test("kCore: chain cascades from the ends inward; triangle+tail keeps only the triangle") {
    // triangle 1-2-3 with a 4-node tail 3-4-5-6-7: the 2-core peels the
    // tail ONE LEAF PER ROUND (7, then 6, then 5, then 4 — each becomes
    // degree-1 only after its outer neighbor went), the multi-round
    // cascade a one-layer random fixture never exercises
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val got = Graph.kCore(pairs.toDF("a", "b"), k = 2, maxRounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // not enough rounds for the cascade → loud failure, never a not-yet-core
    val ex = intercept[IllegalStateException] {
      Graph.kCore(pairs.toDF("a", "b"), k = 2, maxRounds = 2)
    }
    assert(ex.getMessage.contains("still peeling"))
    // k above the max degree empties the graph (valid: zero rows)
    assert(Graph.kCore(pairs.toDF("a", "b"), k = 4, maxRounds = 6).count() == 0L)
  }

  test("neighborMeanAgg: exact half-up micro-unit means; nulls propagate hop by hop") {
    // directed: 1->3, 2->3, 3->4, 1->6, 2->6; features in micro-units
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L), (1L, 6L), (2L, 6L))
      .toDF("src", "dst")
    val feats = Seq((1L, 1L), (2L, 2L), (3L, 3000000L), (4L, 0L), (6L, 0L))
      .toDF("id", "x")
    def run(k: Int) = Graph.neighborMeanAgg(edges, feats, k)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val h1 = run(1)
    // mean(1, 2) = 1.5 micro -> half-up 2 (the tie a double round splits
    // differently across engines — here it is integer arithmetic)
    assert(h1 == Map(1L -> None, 2L -> None, 3L -> Some(2L),
      4L -> Some(3000000L), 6L -> Some(2L)))
    val h2 = run(2)
    // sources have no layer-1 value -> their dependents go null at layer 2;
    // 4 sees 3's layer-1 mean
    assert(h2 == Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some(2L), 6L -> None))
  }

  test("kCore matches brute-force peeling on a hashed random graph") {
    val nodes = (1L to 24L)
    val pairs = for {
      i <- nodes; j <- nodes if i < j
      if md5hex(s"$i|$j").charAt(0) <= '2'
    } yield (i, j)
    // reference: peel to fixed point, any order (the k-core is unique)
    val k = 3
    var edges = pairs.toSet
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, xs) => v -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      edges = next
    }
    val brute = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
    val got = Graph.kCore(pairs.toDF("a", "b"), k, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute)
  }

  test("randomWalks replays the salted md5 step rule exactly") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val salt = "specwalk"
    val length = 3
    // plain-Scala reference: dst-ordered adjacency, step k from u on the
    // walk seeded at s picks rank (md5int(s|k|u|salt) mod outdeg) + 1
    val es = pairs ++ pairs.map(p => (p._2, p._1))
    val adj = es.groupBy(_._1).map { case (s, e) =>
      s -> e.map(_._2).sorted
    }
    def md5int(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val want = adj.keys.toSeq.flatMap { s =>
      var cur = s
      (s, 0L, s) +: (1 to length).map { k =>
        val nb = adj(cur)
        cur = nb((md5int(s"$s|$k|$cur|$salt") % nb.size).toInt)
        (s, k.toLong, cur)
      }
    }.toSet
    val got = Graph.randomWalks(undirected(pairs), length, salt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // one walk per node, every walk full-length
    assert(got.size == adj.size * (length + 1))
    // every step traverses a real edge
    val edgeSet = es.toSet
    val byWalk = got.groupBy(_._1)
    byWalk.values.foreach { rows =>
      val path = rows.toSeq.sortBy(_._2).map(_._3)
      path.zip(path.drop(1)).foreach(e => assert(edgeSet.contains(e)))
    }
  }

  test("skipGramPairs counts windowed co-occurrence on hand-built walks") {
    // two walks: [1,2,3,4] and [7,8] — window 2, both directions
    val walks = Seq(
      (1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L), (1L, 3L, 4L),
      (7L, 0L, 7L), (7L, 1L, 8L)).toDF("walk_id", "step", "node_id")
    val got = Graph.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = Seq((1L, Seq(1L, 2L, 3L, 4L)), (7L, Seq(7L, 8L)))
    val want = rows.flatMap { case (_, p) =>
      for {
        i <- p.indices; j <- p.indices
        if i != j && math.abs(i - j) <= 2
      } yield (p(i), p(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    // spot values: (2,3) adjacent once each direction; (1,4) outside
    assert(got((2L, 3L)) == 1L && got((3L, 2L)) == 1L)
    assert(!got.contains((1L, 4L)))
    // a node revisited by a walk accumulates counts, not duplicates
    val loop = Seq((9L, 0L, 5L), (9L, 1L, 6L), (9L, 2L, 5L))
      .toDF("walk_id", "step", "node_id")
    val g2 = Graph.skipGramPairs(loop, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(g2((5L, 6L)) == 2L && g2((6L, 5L)) == 2L && g2((5L, 5L)) == 2L)
  }

  test("hits matches a plain-Scala L-inf power-iteration replay") {
    // directed bipartite: hubs {1,2,3} -> authorities {10,20}; hub 1
    // touches both authorities, authority 10 is touched by all hubs
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L), (3L, 10L))
    val scale = 100000L
    val iters = 4
    // plain-Scala replay of the exact floor chain
    var h = edges.map(_._1).distinct.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val m = raw.values.max
      raw.map { case (k, v) =>
        k -> math.floor((v * scale).toDouble / m.toDouble).toLong }
    }
    (1 to iters).foreach { _ =>
      a = norm(edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => h(e._1)).sum })
      h = norm(edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => a(e._2)).sum })
    }
    val got = Graph.hits(edges.toDF("src", "dst"), iters, scale)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nodes = (h.keySet ++ a.keySet).toSeq
    assert(got.keySet == nodes.toSet)
    nodes.foreach { id =>
      assert(got(id) == (h.getOrElse(id, 0L), a.getOrElse(id, 0L)),
        s"node $id")
    }
    // the asymmetry the directed graph exists for: hub 1 (touches both
    // authorities) outranks hubs 2/3; authority 10 (all hubs) hits the
    // normalizer ceiling and outranks 20
    assert(got(1L)._1 == scale && got(2L)._1 < scale)
    assert(got(10L)._2 == scale && got(20L)._2 < scale)
    // sides are disjoint: hubs carry zero authority and vice versa
    assert(got(1L)._2 == 0L && got(10L)._1 == 0L)
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) is result-identical") {
    // r17 verdict item 3: with the conf set, every iterative round save
    // runs a RELIABLE checkpoint (executor-loss-safe at scale) instead
    // of localCheckpoint; the results must be bit-identical.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
    val local = Graph.pageRank(undirected(pairs), 5, 1000000000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val walkLocal = Graph.randomWalks(undirected(pairs), 3, "ckpt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val reliable = Graph.pageRank(undirected(pairs), 5, 1000000000000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local)
      val walkReliable = Graph.randomWalks(undirected(pairs), 3, "ckpt")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(walkReliable == walkLocal)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("round loops keep only their result's cuts persisted, and none on failure") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // a returned frame reads its final cuts through LogicalRDD leaves;
    // anything else a loop leaves persisted is a leak
    def keepsOnlyItsCuts(name: String)(run: => DataFrame): Unit = {
      val before = persisted
      val out = run
      val leaves = out.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      assert(leaves.nonEmpty, s"$name must return a frame over its final cut")
      assert(persisted -- before == leaves.map(_.id).toSet, name)
      leaves.foreach(_.unpersist(blocking = false))
    }
    def leavesNothing(name: String)(run: => Any): Unit = {
      val before = persisted
      intercept[Exception](run)
      assert((persisted -- before).isEmpty, s"$name failed and leaked blocks")
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val edges = undirected(pairs)
    val canonical = pairs.toDF("a", "b")
    keepsOnlyItsCuts("pageRank")(Graph.pageRank(edges, 4))
    keepsOnlyItsCuts("labelPropagation")(Graph.labelPropagation(edges, 4))
    keepsOnlyItsCuts("neighborMeanAgg")(Graph.neighborMeanAgg(edges,
      Seq((1L, 5L), (4L, 9L)).toDF("id", "x"), 3))
    keepsOnlyItsCuts("kCore")(Graph.kCore(canonical, k = 2, maxRounds = 6))
    keepsOnlyItsCuts("seedDistance")(Graph.seedDistance(edges, Seq(1L).toDF("id"), 3))
    keepsOnlyItsCuts("hits")(Graph.hits(pairs.toDF("src", "dst"), 3, 1000L))
    // the cascade needs 4 rounds; hits' first authority max is 2 * scale,
    // so scale * max overflows the 2^53 bound
    leavesNothing("kCore non-convergence")(Graph.kCore(canonical, k = 2, maxRounds = 2))
    leavesNothing("hits 2^53 bound")(Graph.hits(pairs.toDF("src", "dst"), 3, 1L << 40))
  }
}
