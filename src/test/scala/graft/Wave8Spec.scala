package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps
import graft.streaming.EventOps

/** r8 wave-8 operators: KMV audience overlap, bipartite HITS. */
class Wave8Spec extends SparkSpecBase {

  // ---------------------------------------------------------------- S20

  test("audience overlap: sub-k sets are EXACT — counts, jaccard, intersection") {
    val s = spark
    import s.implicits._
    val events =
      ((1 to 30).map(u => ("A", u.toLong)) ++
       (16 to 45).map(u => ("B", u.toLong))).toDF("event_type", "user_id")
    val rows = EventOps.audienceOverlap(events, cacheKey = "w8-exact").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getDouble(2) == 30.0 && r.getDouble(3) == 30.0) // est_a, est_b
    assert(r.getDouble(4) == 45.0)                           // est_union
    assert(math.abs(r.getDouble(5) - 1.0 / 3) < 1e-6)        // est_jaccard
    assert(math.abs(r.getDouble(6) - 15.0) < 1e-6)           // est_intersection
  }

  test("audience overlap: estimation regime lands near truth; partition-invariant") {
    val s = spark
    import s.implicits._
    // 500-user audiences overlapping in 250 — both sides well past k=64
    val events =
      ((1 to 500).map(u => ("X", u.toLong)) ++
       (251 to 750).map(u => ("Y", u.toLong))).toDF("event_type", "user_id")
    val r = EventOps.audienceOverlap(events, cacheKey = "w8-est").collect().head
    assert(math.abs(r.getDouble(2) - 500) / 500.0 < 0.30, s"est_a ${r.getDouble(2)}")
    assert(math.abs(r.getDouble(3) - 500) / 500.0 < 0.30, s"est_b ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - 750) / 750.0 < 0.30, s"union ${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 1.0 / 3) < 0.20, s"jaccard ${r.getDouble(5)}")
    assert(math.abs(r.getDouble(6) - 250) / 250.0 < 0.45, s"inter ${r.getDouble(6)}")
    val b = EventOps.audienceOverlap(events.repartition(7), cacheKey = "w8-est2")
      .collect().head
    assert(r == b) // bottom-k of a deterministic hash ignores partitioning
  }

  // ---------------------------------------------------------------- G17

  test("hits: hand-computed fixture fixpoints at rounds 1 and 2") {
    val s = spark
    import s.implicits._
    val ed = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L)).toDF("u", "p")
    val a1 = GraphOps.hitsOf(ed, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a1(10L) == 1.0)
    assert(math.abs(a1(11L) - 1.0 / 3) < 1e-6) // round 1 ≡ normalized degree
    val a2 = GraphOps.hitsOf(ed, 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // h1 = (1, .5, .5); raw_a2(10) = 2, raw_a2(11) = 1 → (1.0, 0.5)
    assert(a2(10L) == 1.0 && a2(11L) == 0.5)
  }

  test("hits: round 1 ≡ normalized buyer-degree on the corpus; range and top-k") {
    val s = spark
    import s.implicits._
    val ed = Tables.orders(s, sfDir).select($"o_custkey".as("u"), $"o_orderkey")
      .join(Tables.lineitem(s, sfDir)
        .select($"l_orderkey", $"l_partkey".as("p")), $"o_orderkey" === $"l_orderkey")
      .select($"u", $"p").distinct()
    val deg = ed.groupBy($"p").agg(count(lit(1)).as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mx = deg.values.max.toDouble
    val a1 = GraphOps.hitsOf(ed, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a1.keySet == deg.keySet)
    a1.foreach { case (p, v) =>
      assert(math.abs(v - deg(p) / mx) < 1e-6, s"part $p") }
    val full = GraphOps.hitsOf(ed, 6).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(math.abs(full.map(_._2).max - 1.0) < 1e-9) // max-normalized
    assert(full.forall { case (_, v) => v > 0.0 && v <= 1.0 })
    val topK = full.sortBy(r => (-r._2, r._1)).take(20).toSeq
    val got = GraphOps.hits(s, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == topK)
  }
}
