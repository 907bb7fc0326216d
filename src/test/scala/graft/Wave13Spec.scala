package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, TemporalJoins}

/** r13 wave: forward as-of with tolerance, interval-overlap join, CUBE.
  * The temporal joins must equal their brute-force inequality-join
  * definitions while planning only equi-joins (the scalable forms). */
class Wave13Spec extends SparkSpecBase {

  test("forward as-of equals the brute-force earliest-purchase-at-or-after join with tolerance") {
    val s = spark
    import s.implicits._
    val tolUs = 3600L * 1000000L
    val e = Tables.events(s, sfDir).filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"user_id", $"ts", $"event_type").cache()
    val v = e.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"event_id".as("view_id"), $"ts".as("vts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("pid"), $"ts".as("pts"))
    // brute force: inequality join + argmin by (ts, event_id), tolerance
    // applied after the match — exactly merge_asof(direction='forward')
    val brute = v.join(p, $"vu" === $"pu" && $"pts" >= $"vts", "left")
      .groupBy($"vu", $"view_id", $"vts")
      .agg(min_by(struct($"pid", $"pts"), struct($"pts", $"pid")).as("m"))
      .withColumn("gap", unix_micros($"m.pts") - unix_micros($"vts"))
      .select($"vu".as("user_id"), $"view_id", $"vts".as("view_ts"),
        when($"gap" <= tolUs, $"m.pid").as("purchase_id"),
        when($"gap" <= tolUs, $"m.pts").as("purchase_ts"),
        when($"gap" <= tolUs, $"gap").as("lag_us"))
      .orderBy($"user_id", $"view_ts", $"view_id")
      .collect().map(_.toString).toSeq
    val got = TemporalJoins.asofForward(s, sfDir).collect().map(_.toString).toSeq
    assert(got == brute)
    // the tolerance must actually bite somewhere AND leave matches alive
    val lags = TemporalJoins.asofForward(s, sfDir).collect().map(r =>
      if (r.isNullAt(5)) None else Some(r.getLong(5)))
    assert(lags.exists(_.isEmpty) && lags.exists(_.isDefined))
    assert(lags.flatten.forall(l => l >= 0 && l <= tolUs))
    e.unpersist()
  }

  test("interval-overlap join equals the brute-force overlap self-join and plans no nested loop") {
    val s = spark
    import s.implicits._
    val sess = graft.streaming.EventOps.sessionize(Tables.events(s, sfDir))
      .select($"user_id", $"sess_id",
        unix_micros($"sess_start").as("lo"), unix_micros($"sess_end").as("hi"))
      .cache()
    val brute = sess.as("a").join(sess.as("b"),
        $"a.user_id" =!= $"b.user_id" &&
        $"a.lo" <= $"b.hi" && $"b.lo" <= $"a.hi", "left")
      .groupBy($"a.user_id".as("user_id"), $"a.sess_id".as("sess_id"))
      .agg(count($"b.user_id").as("n_concurrent"))
      .orderBy($"user_id", $"sess_id")
      .collect().map(_.toString).toSeq
    val q = TemporalJoins.sessionOverlap(s, sfDir)
    val got = q.collect().map(_.toString).toSeq
    assert(got == brute)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "interval-overlap join fell back to a nested loop")
    // a pair overlapping across a cell boundary must be counted exactly
    // once (the later-start rule): force one with a 2-second cell
    val tiny = TemporalJoins.sessionOverlap(s, sfDir, cellSeconds = 2L)
      .collect().map(_.toString).toSeq
    assert(tiny == brute, "cell-boundary pairs double-counted at small cells")
    sess.unpersist()
  }

  test("interval-overlap rank leg is bit-identical to the grid leg") {
    val s = spark
    val grid = TemporalJoins.sessionOverlap(s, sfDir)
      .collect().map(_.toString).toSeq
    val rank = TemporalJoins.sessionOverlapRank(s, sfDir)
      .collect().map(_.toString).toSeq
    assert(rank == grid)
    // tie handling: a session pair touching exactly at an endpoint is an
    // overlap on both legs — pin with a tiny cell so endpoint rows land
    // in different cells than their counterparts' bodies
    val rankTiny = TemporalJoins.sessionOverlapRank(s, sfDir, cellSeconds = 2L)
      .collect().map(_.toString).toSeq
    assert(rankTiny == grid)
  }

  test("reach profile: exact in coupon mode, matches exact closure, monotone to the n^2 fixpoint") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5: N(0)=5, N(1)=13, N(2)=19, N(3)=23, N(4)=25 = n^2 —
    // ball sizes <= 5 keep every HLL in coupon (list) mode, where the
    // datasketches estimate is EXACT, so the profile is integer-exact
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "weight")
    val prof = graft.operators.GraphOps.reachHarmonicOf(path, 5)._1
    val expected = Seq(5.0, 13.0, 19.0, 23.0, 25.0, 25.0)
    prof.zip(expected).foreach { case ((t, est, _), exp) =>
      assert(math.abs(est - exp) < 1e-6, s"round $t: $est != $exp") }
    assert(math.abs(prof.last._3) < 1e-6) // fixpoint: delta 0 past the diameter
    // sf graph: HLL profile within 5% of the exact reachability closure
    // per round (200 balls of ~6.5% i.i.d.-ish error average out in the sum)
    val edges = graft.operators.GraphOps.edgesUnsorted(s, sfDir)
    val arcs = edges.select($"src", $"dst")
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst"))).cache()
    var reach = arcs.select($"src".as("root"), $"src".as("v")).distinct().cache()
    val exact = (0 to 3).map { t =>
      val n = reach.count().toDouble
      if (t < 3) {
        val nxt = reach.join(arcs.withColumnRenamed("src", "v"), "v")
          .select($"root", $"dst".as("v")).unionAll(reach).distinct().cache()
        reach.unpersist(); reach = nxt
      }
      n
    }
    val got = graft.operators.GraphOps.reachHarmonicOf(edges, 3)._1
      .map(_._2).toArray
    exact.zip(got).zipWithIndex.foreach { case ((ex, es), t) =>
      assert(math.abs(es - ex) / ex < 0.05, s"round $t: est $es vs exact $ex") }
    // monotone non-decreasing
    got.sliding(2).foreach { case Array(a, b) => assert(b >= a - 1e-6) }
    reach.unpersist(); arcs.unpersist()
  }

  test("r13 plan invariants: one Expand over a broadcast dim join; no joins in forward as-of; no nested loop in the rank leg") {
    val s = spark
    val cube = Relational.cubeRevenue(s, sfDir).queryExecution.executedPlan.toString
    assert(cube.contains("Expand") && cube.contains("BroadcastHashJoin")
      && !cube.contains("SortMergeJoin"))
    val asof = TemporalJoins.asofForward(s, sfDir).queryExecution.executedPlan.toString
    assert(!asof.contains("Join"), "forward as-of must not plan any join")
    val rank = TemporalJoins.sessionOverlapRank(s, sfDir)
      .queryExecution.executedPlan.toString
    assert(!rank.contains("BroadcastNestedLoopJoin") && !rank.contains("CartesianProduct"))
  }

  test("embedding drift: l2 total consistent with per-dim shifts, full dim coverage") {
    val s = spark
    val rows = graft.operators.Drift.embeddingDrift(s, sfDir).collect()
    assert(rows.length == 64 && rows.map(_.getLong(0)).toSeq == (0L until 64L))
    val l2 = math.sqrt(rows.map(r => r.getDouble(3) * r.getDouble(3)).sum)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(4) - l2) < 1e-5) // one total, repeated per row
      assert(math.abs(r.getDouble(3) - (r.getDouble(2) - r.getDouble(1))) < 1e-6)
    }
  }

  test("cube revenue: grouping sets are internally consistent") {
    val s = spark
    import s.implicits._
    val rows = Relational.cubeRevenue(s, sfDir).collect()
    val byGid = rows.groupBy(_.getLong(4))
    // gid 3 = grand total (both dims null): exactly one row, and its
    // n_orders equals the sum over the finest grouping (gid 0)
    assert(byGid(3L).length == 1)
    val totalN = byGid(3L).head.getLong(3)
    assert(byGid(0L).map(_.getLong(3)).sum == totalN)
    // each one-dim margin also sums to the total
    assert(byGid(1L).map(_.getLong(3)).sum == totalN) // priority rolled up
    assert(byGid(2L).map(_.getLong(3)).sum == totalN) // segment rolled up
    // margin revenue sums match the grand total to decimal precision
    val totalRev = byGid(3L).head.getDouble(2)
    assert(math.abs(byGid(0L).map(_.getDouble(2)).sum - totalRev) < 1e-6)
    // cube cardinality: |seg×prio| + |seg| + |prio| + 1
    val nSeg = byGid(1L).length
    val nPrio = byGid(2L).length
    assert(rows.length == byGid(0L).length + nSeg + nPrio + 1)
  }
}
