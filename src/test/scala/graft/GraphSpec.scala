package graft

import graft.operators.{Dedup, GraphOps}

/** Fixture-graph assertions for the GraphX analytics that have no SQL
  * oracle (VERDICT r2 item 7): planted graphs with hand-computable
  * PageRank fixpoints and triangle counts.
  */
class GraphSpec extends SparkSpecBase {

  private def edges(pairs: (Long, Long)*): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    pairs.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "weight")
  }

  private def wedges(es: Seq[(Long, Long, Long)]): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst", "weight")
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Plain-Scala synchronous PageRank over an undirected weighted edge
    * list — init 1.0, r ← 0.15 + 0.85·Σ r_u·(w/wdeg(u)) — the reference
    * the GraphX legs are checked against. Unit weights give the
    * unweighted update (wdeg = degree). */
  private def powerIteration(es: Seq[(Long, Long, Long)], iters: Int): Map[Long, Double] = {
    val arcs = es.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val wdeg = arcs.groupMapReduce(_._1)(_._3.toDouble)(_ + _)
    var r = wdeg.map { case (v, _) => v -> 1.0 }
    for (_ <- 0 until iters) {
      val msg = arcs.groupMapReduce(_._2) { case (u, _, w) => r(u) * (w / wdeg(u)) }(_ + _)
      r = r.map { case (v, _) => v -> (0.15 + 0.85 * msg.getOrElse(v, 0.0)) }
    }
    r
  }

  private def assertRanksMatch(got: Map[Long, Double], ref: Map[Long, Double]): Unit = {
    assert(got.keySet == ref.keySet)
    ref.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) < 1e-6, s"vertex $v: got ${got(v)} vs reference $r") }
  }

  test("pagerank: K4 fixpoint is rank 1.0 everywhere") {
    // regular graph: r = 0.15 + 0.85 * (3 * r/3) = r has fixpoint 1.0,
    // and the iteration starts there — exact at any iteration count
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val ranks = GraphOps.pageRankOf(k4, iters = 10).collect()
    assert(ranks.length == 4)
    ranks.foreach(r => assert(math.abs(r.getAs[Double]("rank") - 1.0) < 1e-6,
      s"vertex ${r.getLong(0)} rank ${r.getDouble(1)}"))
  }

  test("pagerank: star graph fixpoint — centre 2.378, leaves 0.655") {
    // star S4 (centre 0, leaves 1..4), undirected:
    //   r_c = 0.15 + 0.85 * 4 * (r_l / 1),  r_l = 0.15 + 0.85 * (r_c / 4)
    // solving: r_c = 0.66 / 0.2775 ≈ 2.37838, r_l ≈ 0.65540; the coupled
    // centre↔leaf map contracts by 0.7225 per TWO sync iterations, so
    // 60 iters ≈ 0.7225^30 ≈ 6e-5 residual
    val star = edges((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val ranks = GraphOps.pageRankOf(star, iters = 60).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ranks(0L) - 2.37838) < 1e-3, s"centre ${ranks(0L)}")
    (1L to 4L).foreach(l =>
      assert(math.abs(ranks(l) - 0.65540) < 1e-3, s"leaf $l ${ranks(l)}"))
    assert(ranks(0L) > ranks(1L), "centre must outrank leaves")
  }

  test("triangle count: planted K3 + pendant edge has exact counts") {
    // K3 {1,2,3} (one triangle each) + edge {4,5} (zero), bridge 3-4
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val tc = GraphOps.triangleCountOf(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0), s"got $tc")
  }

  test("triangle count: K4 + shared apex + pendant has hand-computed counts") {
    // overlapping triangles + K4 stress the one-apex-per-triangle claim:
    // K4 {1,2,3,4} has 4 triangles (3 per node); 5 joins 1, 2 and 3 and
    // closes {1,2,5}, {1,3,5}, {2,3,5}; the pendant 6 closes none
    val g = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (3L, 5L), (5L, 6L))
    val tc = GraphOps.triangleCountOf(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc == Map(1L -> 5, 2L -> 5, 3L -> 5, 4L -> 3, 5L -> 3, 6L -> 0), s"got $tc")
  }

  test("sampled triangle estimate: exact at p=1, within band on a dense fixture") {
    // K20: every node closes C(19,2) = 171 triangles — dense enough for
    // the p³-scaled estimate to concentrate
    val k20 = edges((for {
      a <- 1L to 20L; b <- (a + 1) to 20L
    } yield (a, b)): _*)
    val exact = GraphOps.triangleCountOf(k20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.values.forall(_ == 171L), s"got $exact")
    val atOne = GraphOps.triangleCountSampled(k20, 1.0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atOne == exact, "p=1 must be the exact count")
    // p=0.6 on a fixed hash draw: deterministic, so the band is stable —
    // the estimator must land within 2x of truth for every surviving node
    val est = GraphOps.triangleCountSampled(k20, 0.6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    est.foreach { case (n, e) =>
      assert(e <= 171L * 2 && e >= 171L / 4, s"node $n estimate $e far from 171")
    }
    // determinism: same call, same estimate
    val again = GraphOps.triangleCountSampled(k20, 0.6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est == again)
  }

  test("pagerank: star and K4 ranks equal a plain-Scala power iteration") {
    // same round counts on both sides: GraphX's output is rounded to 6dp,
    // so it matches the reference to 1e-6 at any round, fixpoint or not
    val star = (1L to 4L).map(l => (0L, l, 1L))
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b, 1L)
    for ((g, iters) <- Seq(star -> 60, k4 -> 10))
      assertRanksMatch(ranksOf(GraphOps.pageRankOf(wedges(g), iters)),
        powerIteration(g, iters))
  }

  test("weighted pagerank: rank mass follows edge weight") {
    val s = spark
    import s.implicits._
    // path 1-2-3: unweighted is symmetric (r1 = r3); with edge (2,3)
    // carrying 9× the weight, vertex 3 must outrank vertex 1
    val w = Seq((1L, 2L, 1L), (2L, 3L, 9L)).toDF("src", "dst", "weight")
    val ranks = ranksOf(GraphOps.pageRankWeightedGX(w, iters = 40))
    assert(ranks(3L) > ranks(1L), s"weight ignored: $ranks")
    assert(ranks(2L) > ranks(3L), "centre must still dominate")
    // uniform weights reduce to the unweighted fixpoint (K4 → all 1.0)
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    GraphOps.pageRankWeightedGX(k4, iters = 10).collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-6))
    // and the weighted fixture differs from the unweighted ranking on w
    val unw = ranksOf(GraphOps.pageRankOf(w, iters = 40))
    assert(math.abs(unw(1L) - unw(3L)) < 1e-6, "unweighted path is symmetric")
  }

  test("weighted pagerank: path 1-2-3 ranks equal a plain-Scala power iteration") {
    // the closed-form fixpoint (0.274054 / 1.459459 / 1.266486) is only
    // reached after ~100+ rounds; compare round-for-round instead
    val path = Seq((1L, 2L, 1L), (2L, 3L, 9L))
    for (iters <- Seq(1, 2, 20))
      assertRanksMatch(ranksOf(GraphOps.pageRankWeightedGX(wedges(path), iters)),
        powerIteration(path, iters))
  }

  test("node similarity: triangle + pendant fixture has exact Jaccard") {
    // edges 1-2, 1-3, 2-3, 3-4 → N(1)={2,3} N(2)={1,3} N(3)={1,2,4} N(4)={3}
    val g = edges((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val got = GraphOps.nodeSimilarityOf(g, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      (1L, 4L) -> (1L, 0.5),      // share {3}: 1/(2+1-1)
      (2L, 4L) -> (1L, 0.5),
      (1L, 2L) -> (1L, 0.333333), // share {3}: 1/(2+2-1)
      (1L, 3L) -> (1L, 0.25),     // share {2}: 1/(2+3-1)
      (2L, 3L) -> (1L, 0.25)
    ), s"got $got")
  }

  test("node similarity LSH: planted near-identical neighborhoods are fully recalled") {
    // nodes 1 and 2 share 20 of their 21 neighbors (jacc 20/22 ≈ 0.909);
    // the 20 shared neighbors have IDENTICAL neighbor sets {1,2} (jacc 1.0
    // pairs — identical minhash signatures, so banding must find them);
    // background chain 300-301-302-303 adds low-sim (0.5) pairs banding
    // may legitimately drop
    val shared = (100L to 119L)
    val pairs =
      shared.map(n => (1L, n)) ++ shared.map(n => (2L, n)) ++
        Seq((1L, 200L), (2L, 201L), (300L, 301L), (301L, 302L), (302L, 303L))
    val g = edges(pairs: _*)
    val exact = GraphOps.nodeSimilarityOf(g, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val lsh = GraphOps.nodeSimilarityLshOf(g, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val head = exact.filter(_._2._2 >= 0.9)
    assert(head.size == 191, s"fixture head wrong: ${head.size}") // C(20,2)=190 clone pairs + (1,2)
    head.foreach { case (p, v) =>
      assert(lsh.get(p).contains(v), s"LSH missed head pair $p -> $v, got ${lsh.get(p)}")
    }
    assert(lsh((1L, 2L)) == ((20L, 0.909091)))
    // LSH never invents pairs: everything it returns matches the exact relation
    lsh.foreach { case (p, v) => assert(exact.get(p).contains(v), s"phantom pair $p") }
  }

  test("node similarity: super-connector cap drops hub-only pairs, stays exact elsewhere") {
    // hub 99 connects to 1..5 (deg 5); 1 and 2 also share real neighbor 10.
    // With maxDeg = 4 the hub is a stop-neighbor: it leaves every neighbor
    // SET (degrees and common counts both recompute on the filtered arcs),
    // so pairs whose only common neighbor was the hub (all of 3,4,5's)
    // vanish, and the surviving pairs are exact Jaccard on hub-filtered
    // sets: (1,2) share {10} of capped-deg-1 sets → 1.0; (10,99) share
    // {1,2} with capped degs 2 and 5 → 2/(2+5−2) = 0.4.
    val g = edges((99L, 1L), (99L, 2L), (99L, 3L), (99L, 4L), (99L, 5L),
      (1L, 10L), (2L, 10L))
    val capped = GraphOps.nodeSimilarityOf(g, k = 100, maxDeg = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(capped == Map(
      (1L, 2L) -> (1L, 1.0),
      (10L, 99L) -> (2L, 0.4)
    ), s"got $capped")
    // uncapped control: the hub manufactures all C(5,2) pairs among 1..5
    val full = GraphOps.nodeSimilarityOf(g, k = 100).collect()
    assert(full.length == 11, s"uncapped pair count ${full.length}") // 10 hub pairs (incl. (1,2)) + (10,99)
  }

  test("node similarity: pair-work budget reroutes to the LSH twin") {
    // same planted fixture the LSH recall test uses; Σ deg² far exceeds a
    // budget of 1, so the exact entry point must return the LSH plan's
    // result bit-for-bit (schema, values, ordering)
    val shared = (100L to 119L)
    val pairs =
      shared.map(n => (1L, n)) ++ shared.map(n => (2L, n)) ++
        Seq((1L, 200L), (2L, 201L), (300L, 301L), (301L, 302L), (302L, 303L))
    val g = edges(pairs: _*)
    val rerouted = GraphOps.nodeSimilarityOf(g, k = 500, maxPairWork = 1L).collect().toSeq
    val lsh = GraphOps.nodeSimilarityLshOf(g, k = 500).collect().toSeq
    assert(rerouted == lsh, s"reroute diverged from LSH twin:\n$rerouted\nvs\n$lsh")
    assert(rerouted.nonEmpty)
  }

  test("node similarity: duplicate and mirrored arc rows do not inflate the exact path") {
    // triangle + pendant fixture with every edge duplicated and one edge
    // also mirrored — degrees/common counts must match the clean frame
    // (ADVICE r6: the exact path counted raw arc rows where the LSH twin
    // collect_set-dedup'd, so the two disagreed on non-canonical input)
    val g = edges((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (1L, 3L),
      (2L, 3L), (2L, 3L), (3L, 4L), (3L, 4L), (4L, 4L)) // + a self-loop
    val got = GraphOps.nodeSimilarityOf(g, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      (1L, 4L) -> (1L, 0.5),
      (2L, 4L) -> (1L, 0.5),
      (1L, 2L) -> (1L, 0.333333),
      (1L, 3L) -> (1L, 0.25),
      (2L, 3L) -> (1L, 0.25)
    ), s"got $got")
  }

  test("connected components: planted two-island graph has exact sizes") {
    // island A = path 1-2-3 (3 nodes), island B = edge 10-11 (2 nodes)
    val g = edges((1L, 2L), (2L, 3L), (10L, 11L))
    val sizes = GraphOps.connectedComponentsOf(g).collect()
      .map(_.getAs[Long]("size")).sorted.toSeq
    assert(sizes == Seq(2L, 3L), s"got $sizes")
  }

  test("DF-native components (dupClustersOf) agree with GraphX on the fixture") {
    import spark.implicits._
    // same two-island graph; the min-label propagation used for near-dup
    // cluster resolution must partition nodes identically to GraphX CC
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L).toDF("doc_id")
    val sizes = Dedup.dupClustersOf(ids, pairs)
      .groupBy("cluster_id").count()
      .collect().map(_.getAs[Long]("count")).sorted.toSeq
    assert(sizes == Seq(2L, 3L), s"got $sizes")
  }

  test("shortest paths: planted path graph has exact hop counts") {
    // path 1-2-3-4 plus unreachable island 10-11; landmarks = 2 smallest
    // vertex ids = {1, 2}
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val got = GraphOps.shortestPathsOf(g, nLandmarks = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1,
      (2L, 1L) -> 1, (2L, 2L) -> 0,
      (3L, 1L) -> 2, (3L, 2L) -> 1,
      (4L, 1L) -> 3, (4L, 2L) -> 2)
    assert(got == want, s"got $got") // islands carry no rows: unreachable
  }

  test("shortest paths: sf0.001 corpus equals a plain-Scala multi-source BFS") {
    val e = GraphOps.copurchaseEdges(spark, sfDir)
      .select("src", "dst", "weight")
    val got = GraphOps.shortestPathsOf(e, nLandmarks = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: one queue-free BFS per landmark (the 3 smallest node
    // ids) over the mirrored adjacency, bounded at the default 8 hops
    val adj = e.collect().toSeq
      .flatMap { r => val (a, b) = (r.getLong(0), r.getLong(1)); Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val want = adj.keys.toSeq.sorted.take(3).flatMap { lm =>
      var dist = Map(lm -> 0L)
      var frontier = Set(lm)
      var hop = 1L
      while (hop <= 8 && frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        dist ++= frontier.map(_ -> hop)
        hop += 1
      }
      dist.map { case (v, d) => (v, lm, d) }
    }.toSet
    assert(want.nonEmpty)
    assert(got == want, s"corpus divergence: ${(got diff want).take(5)} / ${(want diff got).take(5)}")
  }

  test("pagerank on the corpus: positive ranks, top-k size, deterministic order") {
    val rows = GraphOps.pageRank(spark, sfDir).collect()
    assert(rows.length == 20)
    val ranks = rows.map(_.getAs[Double]("rank"))
    assert(ranks.forall(_ > 0))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("betweenness: hand-computed Brandes deltas on the path graph 1-2-3-4") {
    val s = spark
    import s.implicits._
    // sources = 3 smallest ids {1,2,3}. Per-source dependency sums:
    //   s=1: δ(2)=2 (forwards to 3 and 4), δ(3)=1, δ(4)=0
    //   s=2: δ(3)=1 (forwards to 4), δ(1)=δ(4)=0
    //   s=3: δ(2)=1 (forwards to 1), δ(1)=δ(4)=0
    // bc = Σ_s δ_s:  node 2 → 3.0, node 3 → 2.0, nodes 1 and 4 → 0.0
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L))
    val got = GraphOps.betweennessOf(g, nSources = 3, maxDepth = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 3.0, 3L -> 2.0, 4L -> 0.0), s"got $got")
    // star 1-2, 1-3, 1-4: the hub carries every pair among its leaves.
    //   s=1: all δ=0. s=2: δ(1)=2 (paths to 3 and 4). s=3: δ(1)=2.
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L))
    val gs = GraphOps.betweennessOf(star, nSources = 3, maxDepth = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gs == Map(1L -> 4.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0), s"got $gs")
    // shortcut kills brokerage: on the triangle every pair is adjacent
    val tri = edges((1L, 2L), (2L, 3L), (1L, 3L))
    val gt = GraphOps.betweennessOf(tri, nSources = 3, maxDepth = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gt.values.forall(_ == 0.0), s"got $gt")
  }

  test("betweenness: sigma counts shortest paths, split deltas on the diamond") {
    val s = spark
    import s.implicits._
    // diamond 1-2, 1-3, 2-4, 3-4: two shortest 1→4 paths (σ=2), so each
    // middle node carries HALF the (1,4) dependency.
    //   s=1: δ(2)=δ(3)=1/2·(1+0)=0.5, δ(4)=0
    //   s=2: paths 2-1, 2-4, 2-1-3 and 2-4-3 (σ(3)=2 at dist 2 via BOTH):
    //        δ(1)=1/2, δ(4)=1/2, δ(3)=0
    //   s=3: symmetric: δ(1)=1/2, δ(4)=1/2, δ(2)=0
    val g = edges((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val got = GraphOps.betweennessOf(g, nSources = 3, maxDepth = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 2L -> 0.5, 3L -> 0.5, 4L -> 1.0), s"got $got")
  }

  test("closeness: hand-computed landmark distances on the path graph") {
    val s = spark
    import s.implicits._
    // landmarks {1,2,3}; positive-distance rows only.
    // node 1: d={1→·skip self, 2:1, 3:2} → n=2 Σ=3 C=2/3 H=1+1/2
    // node 4: d={1:3, 2:2, 3:1}         → n=3 Σ=6 C=1/2 H=1/3+1/2+1
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L))
    val got = GraphOps.closenessOf(g, nLandmarks = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 0.666667, 1.5)), s"got ${got(1L)}")
    assert(got(4L) == ((3L, 0.5, 1.833333)), s"got ${got(4L)}")
    assert(got(2L) == ((2L, 1.0, 2.0)), s"got ${got(2L)}") // d(2,1)=d(2,3)=1
    // island {10,11} reaches no landmark: no rows (the G8 contract)
    val gi = GraphOps.closenessOf(edges((1L, 2L), (10L, 11L)), nLandmarks = 2)
      .collect().map(_.getLong(0)).toSet
    assert(!gi.contains(10L) && !gi.contains(11L))
  }

  test("node2vec: class-weight limits force return / forbid backtrack; dead ends never strand") {
    val s = spark
    import s.implicits._
    def walks(g: org.apache.spark.sql.DataFrame, wr: Long, wc: Long, wo: Long) =
      GraphOps.node2vecWalksOf(g, nWalks = 2, steps = 4, wr, wc, wo)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).map(_._2).toSeq).toMap
    val path = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // p → 0 limit (return dominates): after the uniform first hop the
    // walk oscillates start ↔ first-neighbor forever
    walks(path, 1L, 0L, 0L).foreach { case ((st, _), ws) =>
      assert(ws(0) == st && ws(2) == st && ws(4) == st, s"no oscillation: $ws")
      assert(ws(1) == ws(3), s"no oscillation: $ws")
    }
    // p → ∞ limit (wReturn = 0): an interior node never backtracks when
    // an alternative exists; a pendant reached with nowhere else to go
    // exercises the Σw=0 dead-end guard (returns instead of stranding)
    val deg = Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2, 5L -> 1)
    walks(path, 0L, 1L, 1L).foreach { case (_, ws) =>
      ws.sliding(3).foreach { tri =>
        if (tri.length == 3 && deg(tri(1)) >= 2)
          assert(tri(2) != tri(0), s"interior backtrack in $ws")
      }
    }
    // common-class limit: in the triangle 1-2-3 (+pendant 4 on 2), a
    // walk sitting at 2 with prev 1 must pick 3 — the only candidate
    // that closes the triangle (4 is outward, 1 is the return)
    val tri = edges((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L))
    walks(tri, 0L, 1L, 0L).foreach { case (_, ws) =>
      ws.sliding(3).foreach { t =>
        if (t.length == 3 && Set(t(0), t(1)) == Set(1L, 2L))
          assert(t(2) == 3L, s"common class not forced: $ws")
      }
    }
    // deterministic: replays are identical
    assert(walks(path, 1L, 4L, 16L) == walks(path, 1L, 4L, 16L))
  }

  test("communities: two heavy cliques with a weak bridge resolve to two labels") {
    val s = spark
    import s.implicits._
    // cliques {1,2,3} and {10,11,12} with internal weight 10, bridged 3-10
    // at weight 1: LPA must keep the cliques apart and label each by its
    // minimum member (the deterministic tie-break)
    def clique(ids: Seq[Long], w: Long) =
      for { a <- ids; b <- ids if a < b } yield (a, b, w)
    val edges = (clique(Seq(1L, 2L, 3L), 10L) ++
      clique(Seq(10L, 11L, 12L), 10L) :+ ((3L, 10L, 1L)))
      .toDF("src", "dst", "weight")
    val got = GraphOps.communitiesOf(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 swaps labels inside each clique (no self-vote), round 2
    // settles every member on its clique minimum; rounds 3-5 keep it
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"got $got")
  }

  test("communities: fixture and corpus labels equal a plain-Scala label propagation") {
    val s = spark
    import s.implicits._
    /** Plain-Scala synchronous LPA: each node takes the label with the
      * largest summed arc weight over its neighbours' labels, ties to the
      * smallest label; round 0 labels every node by itself. Integer votes
      * make the comparison exact, cell for cell. */
    def lpa(es: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
      val arcs = es.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      var lbl = arcs.map(_._1).distinct.map(v => v -> v).toMap
      for (_ <- 0 until iters) {
        val votes = arcs.groupMapReduce { case (u, v, _) => (v, lbl(u)) }(_._3)(_ + _)
        lbl = votes.groupBy(_._1._1).map { case (v, vs) =>
          v -> vs.minBy { case ((_, l), n) => (-n, l) }._1._2 }
      }
      lbl
    }
    def labelsOf(es: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] =
      GraphOps.communitiesOf(es.toDF("src", "dst", "weight"), iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def clique(ids: Seq[Long], w: Long) =
      for { a <- ids; b <- ids if a < b } yield (a, b, w)
    val fx = clique(Seq(1L, 2L, 3L), 10L) ++ clique(Seq(10L, 11L, 12L), 10L) :+ ((3L, 10L, 1L))
    for (iters <- Seq(1, 2, 5)) assert(labelsOf(fx, iters) == lpa(fx, iters), s"fixture, $iters rounds")
    val corpus = GraphOps.copurchaseEdges(spark, sfDir).select("src", "dst", "weight")
      .collect().toSeq.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
    assert(corpus.nonEmpty)
    assert(labelsOf(corpus, 5) == lpa(corpus, 5), "corpus labels diverge from the reference")
  }

  test("ppr: fixture and corpus ranks equal a plain-Scala iteration") {
    val s = spark
    import s.implicits._
    // r ← 0.15·pv + 0.85·Σ r_u/deg(u), pv = 1/|S| on the in-graph seeds,
    // starting from pv; the kept leg rounds to 6dp, inside the 1e-6 band
    def pprRef(es: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Double] = {
      val arcs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = arcs.groupMapReduce(_._1)(_ => 1)(_ + _)
      val in = seeds.filter(deg.contains)
      val pv = 1.0 / in.size
      var r = deg.map { case (v, _) => v -> (if (in(v)) pv else 0.0) }
      for (_ <- 0 until iters) {
        val msg = arcs.groupMapReduce(_._2) { case (u, _) => r(u) / deg(u) }(_ + _)
        r = r.map { case (v, _) =>
          v -> ((if (in(v)) 0.15 * pv else 0.0) + 0.85 * msg.getOrElse(v, 0.0)) }
      }
      r
    }
    val fx = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
    assertRanksMatch(ranksOf(GraphOps.pprOf(edges(fx: _*), Seq(1L).toDF("pk"), 10)),
      pprRef(fx, Set(1L), 10))
    // no in-graph seed: the empty relation
    assert(GraphOps.pprOf(edges(fx: _*), Seq(99L).toDF("pk"), 3).count() == 0)
    val e = GraphOps.copurchaseEdges(spark, sfDir).select("src", "dst", "weight")
    val owned = Tables.orders(s, sfDir).filter($"o_custkey" === 1L)
      .join(Tables.lineitem(s, sfDir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey".as("pk")).distinct()
    val corpus = e.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val seeds = owned.as[Long].collect().toSet
    assert(seeds.exists(p => corpus.exists { case (a, b) => a == p || b == p }))
    assertRanksMatch(ranksOf(GraphOps.pprOf(e, owned, 10)), pprRef(corpus, seeds, 10))
  }

  test("communities: deterministic on the corpus, labels are member nodes") {
    val a = GraphOps.communities(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = GraphOps.communities(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    val nodes = a.map(_._1).toSet
    assert(a.map(_._2).forall(nodes.contains)) // every label is a real node
    assert(a.length == nodes.size)
  }

  test("recommendOn: planted graph — owned excluded, mass summed across owned items, ties on part") {
    val s = spark
    import s.implicits._
    // owned {1,2}; candidate 5 reachable from BOTH owned items (2+3=5),
    // candidate 6 from one (5), candidate 7 weakly (1); edge 1-2 links
    // two owned items and must not produce a recommendation.
    val edges = Seq(
      (1L, 5L, 2L), (2L, 5L, 3L), (1L, 6L, 5L), (2L, 7L, 1L), (1L, 2L, 9L))
      .toDF("src", "dst", "weight")
    val owned = Seq(1L, 2L).toDF("pk")
    val got = GraphOps.recommendOn(edges, owned, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 5 and 6 tie at score 5 -> part asc breaks the tie; 5 has two links
    assert(got.toSeq == Seq((5L, 5L, 2L), (6L, 5L, 1L), (7L, 1L, 1L)))
  }

  test("recommendForUser: corpus run never recommends an owned part, scores positive and sorted") {
    val s = spark
    import s.implicits._
    val owned = graft.Tables.orders(spark, sfDir)
      .filter($"o_custkey" === 1L)
      .join(graft.Tables.lineitem(spark, sfDir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey").distinct().collect().map(_.getLong(0)).toSet
    assert(owned.nonEmpty) // custkey 1 must exist at every SF for the contract
    val recs = GraphOps.recommendForUser(spark, sfDir, 1L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(recs.nonEmpty)
    assert(recs.forall { case (p, _, _) => !owned.contains(p) })
    assert(recs.forall { case (_, score, links) => score > 0 && links >= 1 && links <= owned.size })
    val scores = recs.map(_._2).toSeq
    assert(scores == scores.sortBy(-_))
  }
}
