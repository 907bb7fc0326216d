package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** r15 wave: one-level deterministic Louvain (g_louvain) — the
  * modularity CLIMBER over the score G23 made measurable. Fixtures pin
  * hand-computed sweeps; a plain-Scala replay of the synchronous
  * ΔQ-greedy update (same 6dp float discipline, same argmax order, same
  * direction-alternation swap breaker) pins the distributed loop on a
  * seeded graph; the corpus leg asserts the point of the operator:
  * Q(louvain) ≥ Q(lpa) at equal sweep budget. */
class Wave15Spec extends SparkSpecBase {

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Plain-Scala replay of one-level synchronous Louvain — the same
    * update louvainOf runs distributed, on Scala collections. */
  private def louvainReplay(edges: Seq[(Long, Long, Long)],
      sweeps: Int): Map[Long, Long] = {
    val arcs = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val deg = arcs.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._3).sum }
    val m = edges.map(_._3).sum.toDouble
    louvainCore(edges, deg, m, sweeps)
  }

  /** Multi-level replay: coarsen (inter-community sums, self-loops
    * dropped from edges but kept in the supernode degree, m unchanged)
    * and re-sweep — mirrors GraphOps.louvainLevelsOf. */
  private def louvainLevelsReplay(edges: Seq[(Long, Long, Long)],
      sweeps: Int, levels: Int): Map[Long, Long] = {
    val m = edges.map(_._3).sum.toDouble
    var assign = louvainReplay(edges, sweeps)
    var curEdges = edges
    var curDeg = edges.flatMap { case (a, b, w) => Seq((a, w), (b, w)) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
    var curLbl = assign
    for (_ <- 2 to levels) {
      val e2 = curEdges.flatMap { case (a, b, w) =>
        val (la, lb) = (curLbl(a), curLbl(b))
        if (la == lb) None
        else Some((math.min(la, lb), math.max(la, lb), w))
      }.groupBy(t => (t._1, t._2))
        .map { case ((x, y), xs) => (x, y, xs.map(_._3).sum) }.toSeq
      val deg2 = curLbl.toSeq.groupBy(_._2)
        .map { case (c, xs) => c -> xs.map(x => curDeg(x._1)).sum }
      val l2 = louvainCore(e2, deg2, m, sweeps)
      assign = assign.map { case (v, c) => v -> l2(c) }
      curEdges = e2; curDeg = deg2; curLbl = l2
    }
    assign
  }

  private def louvainCore(edges: Seq[(Long, Long, Long)],
      deg: Map[Long, Long], m: Double, sweeps: Int): Map[Long, Long] = {
    val arcs = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    var lbl: Map[Long, Long] = deg.keys.map(v => v -> v).toMap
    for (i <- 0 until sweeps) {
      val down = i % 2 == 0
      val ktot = lbl.toSeq.groupBy(_._2).map { case (c, xs) =>
        c -> xs.map(x => deg(x._1)).sum }
      val kvc = arcs.groupBy(a => (a._2, lbl(a._1)))
        .map { case (k, xs) => k -> xs.map(_._3).sum }
      lbl = lbl.map { case (v, cur) =>
        val neigh = kvc.collect { case ((`v`, c), k) => c -> k }.toMap
        val cands = neigh + (cur -> neigh.getOrElse(cur, 0L))
        val best = cands.toSeq.flatMap { case (c, k) =>
          if (if (down) c > cur else c < cur) None
          else {
            val ktEx = ktot(c) - (if (c == cur) deg(v) else 0L)
            val gain = round6(k.toDouble / m -
              (ktEx.toDouble / (2.0 * m)) * (deg(v).toDouble / m)) + 0.0
            Some((c, gain, if (c == cur) 0 else 1))
          }
        }.minBy { case (c, g, nc) => (-g, nc, c) }
        v -> best._1
      }
    }
    lbl
  }

  private def bridgedTriangles = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
  }

  test("louvain: bridged triangles converge to the two triangles (hand-computed sweeps)") {
    val s = spark
    import s.implicits._
    // sweep 1 (down-moves only, hand-derived in the operator notes):
    // {2,3}→1; each right-triangle node chases the next-smaller label
    val l1 = GraphOps.louvainOf(bridgedTriangles, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 5L))
    // by sweep 4 the up/down alternation has assembled {4,5,6} under
    // label 5 — the ideal partition — and further sweeps hold it
    Seq(4, 5, 6).foreach { k =>
      val lk = GraphOps.louvainOf(bridgedTriangles, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lk == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L),
        s"sweep $k: $lk")
    }
    // Q of the ideal partition: 2·(3/7 − (7/14)²) = 0.357143
    val q = GraphOps.modularityScoreOf(bridgedTriangles,
        GraphOps.louvainOf(bridgedTriangles, 4))
      .agg(sum($"q_term")).first().getDouble(0)
    assert(math.abs(q - 2 * round6(3.0 / 7.0 - 0.25)) < 1e-9)
  }

  test("louvain: complete graph collapses to one community in one sweep") {
    val s = spark
    import s.implicits._
    val k3 = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "weight")
    Seq(1, 2).foreach { k =>
      val lk = GraphOps.louvainOf(k3, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lk == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"sweep $k: $lk")
    }
    // one community ⇒ Q = 0 exactly (the G23 identity)
    val q = GraphOps.modularityScoreOf(k3, GraphOps.louvainOf(k3, 2))
      .agg(sum($"q_term")).first().getDouble(0)
    assert(q == 0.0)
  }

  test("louvain: a lone edge merges instead of oscillating (the swap-cycle breaker)") {
    val s = spark
    import s.implicits._
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "weight")
    // unrestricted synchronous updates would swap 1↔2 forever; the
    // down-sweep lets only 2→1 through, and the up-sweep keeps 1 put
    // (moving up would re-singleton it for zero gain)
    Seq(1, 2).foreach { k =>
      val lk = GraphOps.louvainOf(e, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lk == Map(1L -> 1L, 2L -> 1L), s"sweep $k: $lk")
    }
  }

  test("louvain: distributed sweeps ≡ the plain-Scala replay on a seeded graph") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random graph: 24 nodes, edge (a,b) iff
    // (a*7+b*13)%5==0 — mixed degrees, several natural clusters
    val edges = (for {
      a <- 1L to 24L; b <- (a + 1) to 24L
      if (a * 7 + b * 13) % 5 == 0
    } yield (a, b, 1L + (a + b) % 3)).toSeq
    val df = edges.toDF("src", "dst", "weight")
    (1 to 4).foreach { k =>
      val got = GraphOps.louvainOf(df, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = louvainReplay(edges, k)
      assert(got == want, s"sweep $k diverged")
    }
  }

  test("louvain_multi: level 2 keeps a converged partition (bridged triangles) and merges nothing on K3") {
    val s = spark
    import s.implicits._
    // level 1 found the ideal two-triangle partition; contracting it
    // gives a 2-node graph where merging LOWERS Q — level 2 must stay
    val multi = GraphOps.louvainLevelsOf(bridgedTriangles, 5, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val one = GraphOps.louvainOf(bridgedTriangles, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi == one)
    // K3 collapses at level 1 → the coarsened edge frame is EMPTY; the
    // isolated-supernode path must still produce a total labeling
    val k3 = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "weight")
    val mk = GraphOps.louvainLevelsOf(k3, 5, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mk == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("louvain_multi: distributed ≡ the plain-Scala multi-level replay on a seeded graph") {
    val s = spark
    import s.implicits._
    val edges = (for {
      a <- 1L to 24L; b <- (a + 1) to 24L
      if (a * 7 + b * 13) % 5 == 0
    } yield (a, b, 1L + (a + b) % 3)).toSeq
    val df = edges.toDF("src", "dst", "weight")
    Seq(1, 2, 3).foreach { k =>
      val got = GraphOps.louvainLevelsOf(df, k, 2).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = louvainLevelsReplay(edges, k, 2)
      assert(got == want, s"sweeps=$k diverged")
    }
  }

  test("louvain_multi: coarsened moves never lose modularity vs one-level on the corpus") {
    val s = spark
    import s.implicits._
    val e = GraphOps.edgesUnsorted(s, sfDir)
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularityScoreOf(e, labels)
        .agg(sum($"q_term")).first().getDouble(0)
    val qMulti = q(GraphOps.louvainLevelsOf(e, 5, 2))
    val qOne = q(GraphOps.louvainOf(e, 5))
    assert(qMulti >= qOne, s"multi Q=$qMulti < one-level Q=$qOne")
  }

  // --- fused G21+G22 -----------------------------------------------------

  test("fused reach+harmonic ≡ the standalone loops on a path fixture (coupon-exact)") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5: known distances, sketches exact in coupon mode
    val path = (1L to 4L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "weight")
    val (prof, harm) = GraphOps.reachHarmonicOf(path, 6)
    val profDf = s.createDataFrame(prof).toDF("t", "est_pairs", "delta_pairs")
      .select($"t", round($"est_pairs", 3).as("est_pairs"),
        round($"delta_pairs", 3).as("delta_pairs")).orderBy($"t")
    assert(harm.collect().toSeq ==
      GraphOps.harmonicAllOf(path, 6).collect().toSeq)
    // the profile is the known closure: N(t) for a 5-path is
    // 5, 13, 19, 23, 25, then fixpoint
    assert(profDf.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((0, 5.0), (1, 13.0), (2, 19.0), (3, 23.0), (4, 25.0), (5, 25.0), (6, 25.0)))
  }

  test("fused reach+harmonic ≡ the standalone loops on the corpus, row-for-row") {
    val s = spark
    val e = GraphOps.edgesUnsorted(s, sfDir)
    val (prof, harm) = GraphOps.reachHarmonicOf(e, 6)
    val h = harm.collect()
    assert(h.toSeq == GraphOps.harmonicAllOf(e, 6).collect().toSeq)
    // both outputs read the same final balls: the last profile round is
    // the sum of the per-node ball estimates (reach + self), up to the
    // harmonic frame's 3dp rounding of each reach
    val balls = h.map(_.getDouble(1) + 1.0).sum
    assert(math.abs(prof.last._2 - balls) <= h.length * 5e-4 + 1e-6,
      s"profile ${prof.last._2} vs summed balls $balls")
    assert(prof.map(_._1) == (0 to 6))
  }

  test("fused entries: reachProfile and harmonicAll share one memoized pass") {
    val s = spark
    import s.implicits._
    // both public entries must agree with the standalone cores AND with
    // a repeat call (the memo path)
    val p1 = GraphOps.reachProfile(s, sfDir).collect().toSeq
    val h1 = GraphOps.harmonicAll(s, sfDir).collect().toSeq
    assert(p1 == GraphOps.reachProfile(s, sfDir).collect().toSeq)
    assert(h1 == GraphOps.harmonicAll(s, sfDir).collect().toSeq)
    assert(p1.nonEmpty && h1.nonEmpty)
  }

  // --- p_tokenize_shards ---------------------------------------------------

  test("tokenize_shards: reader-side reassembly reproduces every doc's BPE tokens") {
    val s = spark
    import s.implicits._
    val packed = graft.pipeline.CorpusPipeline.tokenizeShards(s, sfDir).collect()
    // slice each sequence's flat token array at doc_lens boundaries
    val rebuilt = packed.flatMap { r =>
      val ids = r.getSeq[Long](5)
      val lens = r.getSeq[Int](6)
      val toks = r.getSeq[String](7)
      assert(lens.sum == toks.length)
      val offs = lens.scanLeft(0)(_ + _)
      ids.indices.map(i => ids(i) -> toks.slice(offs(i), offs(i + 1)))
    }.toMap
    val direct = graft.operators.Bpe.tokenizeDocs(
        Tables.documents(s, sfDir).select($"doc_id", $"text"), 10,
        cacheKey = s"bpe-tok-spec:$sfDir").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(rebuilt.keySet == direct.keySet)
    rebuilt.foreach { case (id, ts) =>
      assert(ts == direct(id), s"doc $id tokens diverged")
    }
  }

  test("tokenize_shards: shard/phase assignment matches the curriculum; packing respects budget and order") {
    val s = spark
    import s.implicits._
    val budget = 400L
    val packed = graft.pipeline.CorpusPipeline.tokenizeShards(s, sfDir).collect()
    // default nShards (8) — aligned with p_curriculum's modulus (ADVICE r15 #3)
    val cur = graft.operators.Sampling.curriculum(s, sfDir).collect()
      .map(r => r.getLong(3) -> ((r.getLong(0), r.getInt(1), r.getLong(2)))).toMap
    packed.foreach { r =>
      val (phase, shard) = (r.getLong(0), r.getInt(1))
      val ids = r.getSeq[Long](5)
      val lens = r.getSeq[Int](6)
      // every doc sits in ITS curriculum (phase, shard)
      ids.foreach { id =>
        val (p, sh, _) = cur(id)
        assert(p == phase && sh == shard, s"doc $id in wrong shard")
      }
      // docs inside a sequence are consecutive in curriculum pos order
      val poss = ids.map(id => cur(id)._3)
      assert(poss == poss.sorted, s"sequence out of curriculum order")
      // budget respected unless a single over-budget doc rides alone
      assert(r.getLong(4) == lens.map(_.toLong).sum)
      assert(lens.map(_.toLong).sum <= budget || ids.length == 1,
        s"overfull multi-doc sequence")
    }
    // seq_ids are dense per (phase, shard), starting at 1
    packed.groupBy(r => (r.getLong(0), r.getInt(1))).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // every curriculum doc with tokens landed exactly once
    assert(packed.flatMap(_.getSeq[Long](5)).length ==
      packed.flatMap(_.getSeq[Long](5)).distinct.length)
  }

  test("tokenize_shards: streaming pack fold matches a whole-group reference fold") {
    import graft.pipeline.CorpusPipeline.{OrderedDoc, packSequences}
    // two (phase, shard) groups interleaved by pos, with an over-budget doc
    def d(ph: Long, sh: Int, pos: Long, id: Long, n: Int) =
      OrderedDoc(ph, sh, pos, id, Seq.fill(n)("t"))
    val docs = Seq(
      d(1, 0, 0, 10, 3), d(1, 0, 1, 11, 3), d(1, 0, 2, 12, 5),
      d(1, 0, 3, 13, 9), // over budget (8): rides alone
      d(2, 1, 0, 20, 4), d(2, 1, 1, 21, 4), d(2, 1, 2, 22, 1))
    val out = packSequences(docs.iterator, budget = 8L).toSeq
    assert(out.map(p => (p.phase, p.shard, p.seq_id, p.doc_ids, p.n_tokens)) == Seq(
      (1L, 0, 1L, Seq(10L, 11L), 6L),
      (1L, 0, 2L, Seq(12L), 5L),
      (1L, 0, 3L, Seq(13L), 9L),
      (2L, 1, 1L, Seq(20L, 21L), 8L),
      (2L, 1, 2L, Seq(22L), 1L)))
    // empty input → empty output
    assert(packSequences(Iterator.empty, 8L).isEmpty)
  }

  test("tokenize_shards: contract digest projection is all-scalar and ≡ digest-of-array-frame") {
    val s = spark
    import s.implicits._
    val arrays = graft.pipeline.CorpusPipeline.tokenizeShards(s, sfDir)
    val entry = graft.pipeline.CorpusPipeline.tokenizeShardsDigest(s, sfDir)
    // all-scalar schema: no ArrayType survives into the contract frame
    // (the driver's pandas comparator crashes on arrays — ADVICE r15 #1)
    assert(entry.schema.fields.forall(f =>
      !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"array column leaked into the contract frame: ${entry.schema}")
    // entry ≡ digestOf(array frame), row for row
    val viaDigest = graft.pipeline.CorpusPipeline.digestOf(arrays)
      .collect().map(_.toSeq).toSet
    assert(entry.collect().map(_.toSeq).toSet == viaDigest)
    // digest faithfulness: distinct token arrays ⇒ distinct digests here
    // (xxhash64 collisions are possible in principle, not on this corpus),
    // and a one-token edit moves the digest
    val nArr = arrays.select($"tokens").distinct().count()
    val nDig = arrays.select(xxhash64(concat_ws(",", $"tokens"))).distinct().count()
    assert(nArr == nDig, s"digest collided: $nArr arrays -> $nDig digests")
    val edited = arrays.limit(1).select(
      xxhash64(concat_ws(",", $"tokens")).as("h0"),
      xxhash64(concat_ws(",", concat($"tokens", array(lit("x"))))).as("h1"))
      .first()
    assert(edited.getLong(0) != edited.getLong(1))
  }

  test("tokenize_shards: partitioned write lands prunable (phase, shard) dirs that read back whole") {
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-tokshards").toString
    graft.pipeline.CorpusPipeline.writeTokenShards(s, sfDir, path)
    val back = s.read.parquet(path)
    val direct = graft.pipeline.CorpusPipeline.tokenizeShards(s, sfDir)
    assert(back.count() == direct.count())
    // partition pruning: the phase predicate must land in the scan's
    // PartitionFilters (a regression to an unpartitioned layout or an
    // unpruned filter would leave that list without it)
    val one = back.filter($"phase" === 1)
    val scan = one.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*phase".r.findFirstIn(scan).isDefined,
      s"phase filter not pushed to partition pruning:\n$scan")
    assert(one.count() ==
      direct.filter($"phase" === 1).count())
  }

  test("louvain: Q(louvain) ≥ Q(lpa) on the corpus at equal sweep budget") {
    val s = spark
    import s.implicits._
    val e = GraphOps.edgesUnsorted(s, sfDir)
    def q(labels: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularityScoreOf(e, labels)
        .agg(sum($"q_term")).first().getDouble(0)
    val qLouvain = q(GraphOps.louvainOf(e, 5))
    val qLpa = q(GraphOps.communitiesOf(e, 5))
    assert(qLouvain >= qLpa,
      s"louvain Q=$qLouvain < lpa Q=$qLpa")
    // and it finds REAL structure where min-label LPA collapses to one
    // community (Q=0) on this dense co-purchase graph
    assert(qLouvain > 0.0, s"louvain Q=$qLouvain not positive")
  }
}
