package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GraphOps, Multimodal}
import graft.streaming.EventOps
import graft.functions.GraftFunctions.bloomProbe

/** r8 wave-7 operators: personalized PageRank, Bloom-prefiltered
  * decontamination, HLL rolling actives, perceptual-hash dedup. */
class Wave7Spec extends SparkSpecBase {

  // ---------------------------------------------------------------- G16

  test("ppr: uniform seed set over all vertices ≡ standard PageRank / n") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight")
    val verts = edges.select($"src".as("pk"))
      .unionAll(edges.select($"dst".as("pk"))).distinct()
    val n = verts.count().toDouble
    val ppr = GraphOps.pprOf(edges, verts, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pr = GraphOps.pageRankOf(edges, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.keySet == pr.keySet)
    ppr.foreach { case (v, p) =>
      assert(math.abs(p * n - pr(v)) < 5e-5, s"vertex $v: ${p * n} vs ${pr(v)}")
    }
  }

  test("ppr: mass stays in the seed component; total mass ≈ 1") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "weight") // two components
    val seeds = Seq(1L).toDF("pk")
    val ppr = GraphOps.pprOf(edges, seeds, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr(3L) == 0.0 && ppr(4L) == 0.0)
    assert(math.abs(ppr.values.sum - 1.0) < 1e-4) // no dangling nodes ⇒ invariant
    assert(ppr(1L) > ppr(2L)) // the seed end of the pair holds more mass
  }

  test("ppr: corpus run conserves mass and ranks seed neighborhood first") {
    val s = spark
    import s.implicits._
    val edges = GraphOps.copurchaseEdges(s, sfDir)
    val owned = Tables.orders(s, sfDir).filter($"o_custkey" === 1L)
      .join(Tables.lineitem(s, sfDir), $"o_orderkey" === $"l_orderkey")
      .select($"l_partkey".as("pk")).distinct()
    val full = GraphOps.pprOf(edges, owned, 10).collect()
    val total = full.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-3, s"mass $total")
    // the limited queries entry is exactly the top-k of the full frame
    val topK = full.sortBy(r => (-r.getDouble(1), r.getLong(0))).take(20)
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = GraphOps.personalizedPageRank(s, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == topK)
  }

  // ---------------------------------------------------------------- D6c

  test("bloom decontaminate ≡ exact decontaminate (prefilter is lossless)") {
    val s = spark
    val exact = Dedup.decontaminate(s, sfDir).collect().toSeq
    val bloom = Dedup.decontaminateBloom(s, sfDir).collect().toSeq
    assert(bloom == exact)
  }

  test("bloom probe: no false negatives, FP rate near configured fpp") {
    val s = spark
    import s.implicits._
    val members = (0L until 2000L).map(i => i * 7919L)
    val bf = members.toDF("h").stat.bloomFilter("h", members.size.toLong, 0.01)
    // all members pass — through the codegen'd expression, not the driver API
    val nMembers = members.toDF("h")
      .filter(bloomProbe($"h", bf)).count()
    assert(nMembers == members.size)
    // non-members (disjoint range) pass at ~fpp — allow generous slack
    val nFp = (1L to 10000L).map(i => i * 7919L + 3L).toDF("h")
      .filter(bloomProbe($"h", bf)).count()
    assert(nFp < 300L, s"false-positive count $nFp of 10000")
  }

  // ---------------------------------------------------------------- S19

  test("hll actives: estimates track the exact series within HLL error") {
    val s = spark
    import s.implicits._
    val events = Tables.events(s, sfDir)
    val exact = EventOps.rollingActives(events, cacheKey = "w7-exact")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val est = EventOps.rollingActivesHll(events)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(est.length == exact.length)
    exact.zip(est).foreach { case ((d1, dau, a7), (d2, dauE, a7E)) =>
      assert(d1 == d2)
      assert(math.abs(dauE - dau).toDouble / dau <= 0.05, s"$d1 dau $dauE vs $dau")
      assert(math.abs(a7E - a7).toDouble / a7 <= 0.05, s"$d1 7d $a7E vs $a7")
    }
  }

  test("hll actives: sketches merge losslessly and ignore partitioning") {
    val s = spark
    import s.implicits._
    val events = Tables.events(s, sfDir)
    // register-max mergeability: union of two disjoint half-sketches ≡
    // one sketch over the whole — estimates identical, not just close
    val whole = events
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id", 12)).as("est"))
      .head().getLong(0)
    val halves = events
      .withColumn("half", ($"event_id" % 2).cast("int"))
      .groupBy($"half").agg(hll_sketch_agg($"user_id", 12).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk", allowDifferentLgConfigK = false)))
      .head().getLong(0)
    assert(whole == halves)
    val a = EventOps.rollingActivesHll(events).collect().toSeq
    val b = EventOps.rollingActivesHll(events.repartition(7)).collect().toSeq
    assert(a == b)
  }

  // ----------------------------------------------------------------- M6

  test("phash: clones collapse to one rep; small edits land within radius") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val edited = base.updated(10, 'a').updated(200, 'b') // two byte flips
    val far = "completely different content with other words " * 9
    val docs = Seq(
      (1L, base), (2L, base), (3L, base), // exact clones — must collapse
      (4L, edited),                        // near-dup of the rep
      (5L, far)
    ).toDF("doc_id", "text")
    val pairs = Multimodal.phashPairsOn(docs, 8, "w7-phash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // exactly one pair: rep(1) vs 4 — clones never pair among themselves
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 4L)))
    val (_, _, ham, ca, cb) = pairs.head
    assert(ham <= 4, s"hamming $ham") // two flips perturb ≤ a few buckets
    assert(ca == 3L && cb == 1L)      // the rep carries its clone count
  }

  test("phash: aHash64 is a pure function with locality; corpus pairs obey the contract") {
    val bytes = ("abcdefgh" * 40).getBytes("UTF-8")
    val h1 = Multimodal.aHash64(bytes)
    val h2 = Multimodal.aHash64(bytes.clone())
    assert(h1 == h2)
    val flipped = bytes.clone(); flipped(77) = (flipped(77) + 1).toByte
    val h3 = Multimodal.aHash64(flipped)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(h1, h3) <= 3, s"one-byte flip moved ${ham(h1, h3)} bits")
    val s = spark
    val pairs = Multimodal.phashDedup(s, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 8)
    }
  }
}
