package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.EventOps

/** Temporal join operators Spark has no built-in form for — the north
  * star's named examples (as-of join, range join) — expressed as
  * compositions that keep every join an equi-join:
  *
  *  - As-of (point-in-time) join: attach to each left row the latest
  *    right row at-or-before its timestamp. The scalable form is NOT an
  *    inequality join (quadratic blow-up per key) but a union of the two
  *    tagged streams + a carry-forward window: one shuffle by key, one
  *    sort within partitions, last(ignoreNulls) does the matching.
  *  - Range (interval) join: match fact rows to irregular intervals by
  *    expanding each interval to the fixed-width buckets it covers,
  *    equi-joining on the bucket, then post-filtering the exact bounds.
  *    The bucket join shuffles on a uniform key; interval count and
  *    per-bucket interval fanout are bounded, so no nested-loop join
  *    appears at any scale.
  */
object TemporalJoins {

  // J1 — as-of attribution: each purchase event matched to the same
  // user's most recent view at-or-before the purchase (ties: view sorts
  // before purchase at equal ts; among equal-ts views the highest
  // event_id wins). The marketing-attribution query shape.
  def asofAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"user_id", $"ts", $"event_type",
        when($"event_type" === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"tag", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("view_id",
        last(when($"tag" === 0, $"event_id"), ignoreNulls = true).over(w))
      .withColumn("view_ts",
        last(when($"tag" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"),
        $"view_id", $"view_ts",
        (unix_micros($"ts") - unix_micros($"view_ts")).as("lag_us"))
      .orderBy($"user_id", $"purchase_ts", $"purchase_id")
  }

  /** Deterministic irregular promo windows (month-granularity bounds,
    * deliberately overlapping so the join is a true many-to-many range
    * match, not a partition). */
  private[graft] val promos: Seq[(Int, String, String)] = Seq(
    (1, "1995-02-01", "1995-07-01"),
    (2, "1996-11-15", "1997-02-15"),
    (3, "1997-01-01", "1998-01-01"),
    (4, "1997-06-10", "1997-06-20"),
    (5, "1999-12-01", "2000-03-01"))

  // J2 — range join: revenue per promo window over lineitem shipdates.
  // Interval bucketing: each promo expands to the calendar months it
  // covers (bounded fanout), lineitem buckets by ship month, equi-join
  // on the month + exact [start, end) post-filter.
  def promoRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promoDf = s.createDataFrame(promos).toDF("promo_id", "start_s", "end_s")
      .select($"promo_id", to_timestamp($"start_s").as("start_ts"),
        to_timestamp($"end_s").as("end_ts"))
    val promoMonths = promoDf
      .withColumn("m", explode(expr(
        "sequence(date_trunc('month', start_ts), date_trunc('month', end_ts), interval 1 month)")))
    val li = Tables.lineitem(s, dir)
      .select($"l_shipdate", ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .withColumn("m", date_trunc("month", $"l_shipdate"))
    li.join(broadcast(promoMonths), Seq("m"))
      .filter($"l_shipdate" >= $"start_ts" && $"l_shipdate" < $"end_ts")
      .groupBy($"promo_id")
      .agg(count(lit(1)).as("n_lines"),
        Relational.dsum($"rev").as("revenue"))
      .orderBy($"promo_id")
  }

  // J3 — SCD2 dimension lookup: attach to each purchase the dimension
  // version (state + version number) valid at its event time — the
  // consumption side of S13's versioned build, and THE warehouse query
  // SCD2 exists for. The dimension is the user's ACTIVITY state (S13's
  // build over the non-purchase stream — building it over all events
  // would make every purchase trivially carry state 'purchase'), and the
  // lookup is LEFT: a purchase before any activity keeps null version.
  // The scalable form is J1's move, not an inequality join against
  // [eff_from, eff_to) (per-key quadratic): version-start rows and
  // purchases union into one stream keyed by entity, a carry-forward
  // window attaches the latest version at-or-before each purchase — one
  // shuffle, one sort. Version rows sort before same-ts purchases (a
  // change effective at t governs an event at t).
  def scd2Lookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = EventOps.scd2(
        Tables.events(s, dir).filter($"event_type" =!= "purchase"))
      .select($"user_id", $"eff_from".as("ts"), $"version", $"state",
        lit(0).as("tag"), lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
    val facts = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", lit(null).cast("long").as("version"),
        lit(null).cast("string").as("state"), lit(1).as("tag"),
        $"event_id", $"value")
    // version in the sort: two versions can START at the same ts (two
    // changes at one instant — the earlier one's interval is empty); the
    // carry-forward must deterministically keep the LATEST, and facts
    // (null version) are unaffected
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"tag", $"version", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("v_at", last($"version", ignoreNulls = true).over(w))
      .withColumn("s_at", last($"state", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"user_id", $"event_id".as("purchase_id"), $"ts",
        $"v_at".as("version"), $"s_at".as("state"), $"value")
      .orderBy($"user_id", $"ts", $"purchase_id")
  }

  // J1b — FORWARD as-of join with a tolerance bound (pandas
  // merge_asof(direction='forward', tolerance=…) semantics; the
  // conversion-window query): every view row kept, matched to the same
  // user's EARLIEST purchase at-or-after it, and the match nulled out
  // when the gap exceeds the tolerance — a view that never converts (or
  // converts too late) survives with null purchase columns, which is
  // what makes this a left as-of join rather than a filter.
  // Same scalable shape as J1: NOT an inequality join (per-key
  // quadratic) but the union of both tagged streams + ONE carry-forward
  // window over the DESCENDING timeline. Sort (ts DESC, tag DESC,
  // event_id DESC): at an equal timestamp the purchase is processed
  // before the view (at-or-after includes ties), and among equal-ts
  // purchases the LAST one carried — the smallest event_id — wins, so
  // the match is min(ts, event_id) among qualifying purchases.
  def asofForward(s: SparkSession, dir: String,
      toleranceSeconds: Long = 3600L): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"user_id", $"ts", $"event_type",
        when($"event_type" === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"tag".desc, $"event_id".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tolUs = toleranceSeconds * 1000000L
    e.withColumn("p_id",
        last(when($"tag" === 1, $"event_id"), ignoreNulls = true).over(w))
      .withColumn("p_ts",
        last(when($"tag" === 1, $"ts"), ignoreNulls = true).over(w))
      .filter($"tag" === 0)
      .withColumn("lag_us", unix_micros($"p_ts") - unix_micros($"ts"))
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"),
        when($"lag_us" <= tolUs, $"p_id").as("purchase_id"),
        when($"lag_us" <= tolUs, $"p_ts").as("purchase_ts"),
        when($"lag_us" <= tolUs, $"lag_us").as("lag_us"))
      .orderBy($"user_id", $"view_ts", $"view_id")
  }

  // J4 — interval-OVERLAP join (both sides carry intervals — J2's range
  // join has points on one side): per user session, the number of OTHER
  // users' sessions overlapping it in time (closed-interval overlap:
  // a.lo <= b.hi AND b.lo <= a.hi) — the concurrency metric behind
  // capacity planning and co-presence analysis. The naive form is an
  // inequality self-join — per-time-neighborhood quadratic with no
  // equi-key, which Spark plans as a broadcast nested loop. The
  // scalable form grids time into fixed cells, expands each interval to
  // the cells it covers (bounded fanout: duration/cell + 1 — sessions
  // are gap-bounded so duration is too), equi-joins on the cell, and
  // counts each overlapping pair EXACTLY ONCE by accepting it only in
  // the cell containing the later of the two starts — the cell where
  // the overlap begins — so no distinct-pair frame is ever
  // materialized and the only shuffles are the cell equi-join and the
  // per-session rollup. Zero-overlap sessions survive via the left
  // join back onto the session frame. Integer `div` for the cell id on
  // both engines — double division near a cell boundary is a
  // correctness bug, not a style choice.
  def sessionOverlap(s: SparkSession, dir: String,
      cellSeconds: Long = 3600L): DataFrame = {
    import s.implicits._
    val cellUs = cellSeconds * 1000000L
    val sess = sessionIntervals(s, dir)
    val cells = sess.withColumn("cell",
      explode(sequence(expr(s"lo div ${cellUs}L"), expr(s"hi div ${cellUs}L"))))
    val counts = cells.as("a").join(cells.as("b"),
        $"a.cell" === $"b.cell" &&
        $"a.user_id" =!= $"b.user_id" &&
        $"a.lo" <= $"b.hi" && $"b.lo" <= $"a.hi" &&
        expr(s"greatest(a.lo, b.lo) div ${cellUs}L") === $"a.cell")
      .groupBy($"a.user_id".as("user_id"), $"a.sess_id".as("sess_id"))
      .agg(count(lit(1)).as("n_concurrent"))
    sess.join(counts, Seq("user_id", "sess_id"), "left")
      .select($"user_id", $"sess_id",
        coalesce($"n_concurrent", lit(0L)).as("n_concurrent"))
      .orderBy($"user_id", $"sess_id")
  }

  /** Session intervals as epoch-micro longs, memoized: both J4 legs and
    * their probes derive the same frame. */
  private[graft] def sessionIntervals(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.cached(s"session-intervals:$dir") {
      EventOps.sessionize(Tables.events(s, dir))
        .select($"user_id", $"sess_id",
          unix_micros($"sess_start").as("lo"), unix_micros($"sess_end").as("hi"))
    }
  }

  // J4 count-only fast path — overlap counting via distributed RANK
  // (sweep-line arithmetic), no pair enumeration at all: the sessions
  // NOT overlapping s are exactly those ending before it starts or
  // starting after it ends (disjoint sets), so
  //   n_concurrent(s) = N − #(hi < lo_s) − #(lo > hi_s) − 1(self)
  // (same-user sessions never overlap — the >30 min gap rule — so
  // "other users" costs only the −1). The grid join's candidate mass is
  // Σ k_cell² — measured 1.27 B candidates for ~30 M true pairs at sf1
  // density (hour cells, ~1326 sessions/cell) — while each rank is ONE
  // cell-partitioned window over the union of endpoint and marker rows:
  // strict/non-strict tie handling via the tag sort key, cross-cell
  // offsets from a per-cell histogram that is bounded by the time span
  // (720 cells here; a multi-year 100 TB span at hour cells is ~10⁴-10⁵
  // rows — driver-prefix-summed and broadcast-joined). Two O(n log n)
  // passes total, output identical to the grid leg (spec-pinned), so
  // the shipped `j_interval_overlap` entry routes HERE and still
  // hash-matches the inequality-join oracle; the grid leg remains the
  // general-payload interval join (it enumerates WHICH pairs overlap).
  private[graft] def sessionOverlapRank(s: SparkSession, dir: String,
      cellSeconds: Long = 3600L): DataFrame = rankLegImpl(s, dir, cellSeconds)

  /** Shipped J4 entry — the COUNT contract routes to the rank leg, the
    * sanction measured both ways (r13, interleaved min-of-2):
    * sf1 rank 7.8 s vs hour-grid 9.2 / duration-grid 3.7; sf10 rank
    * 12.8 s vs duration-grid 25.2 (hour-grid ≈ 125 B candidates there —
    * not worth repping). The grid's candidate mass is Σ k_cell², i.e.
    * grows with session DENSITY squared at any fixed cell width, while
    * the rank legs stay n log n — so rank is the 100 TB path and
    * already wins at sf10 despite losing at sf1. The grid leg remains
    * the general interval JOIN (pair payloads). Outputs are
    * bit-identical (spec-pinned), so both legs share the inequality-join
    * oracle. */
  def sessionOverlapCount(s: SparkSession, dir: String): DataFrame =
    sessionOverlapRank(s, dir)

  private def rankLegImpl(s: SparkSession, dir: String,
      cellSeconds: Long): DataFrame = {
    import s.implicits._
    val cellUs = cellSeconds * 1000000L
    val sess = sessionIntervals(s, dir)
    val nTotal = sess.count() // node-sized frame, one driver scalar

    // rank pass: for each marker row, # point rows with value < marker
    // (strict=true) or value <= marker (strict=false), via a window
    // partitioned by time cell + a broadcast cross-cell prefix.
    // Tag order does the tie-breaking: strict ⇒ markers sort BEFORE
    // equal-valued points (equal values uncounted); non-strict ⇒ after.
    def rankPass(points: DataFrame, markers: DataFrame, strict: Boolean): DataFrame = {
      val pts = points.select($"value", lit(if (strict) 1 else 0).as("tag"),
        lit(null).cast("long").as("user_id"), lit(null).cast("long").as("sess_id"))
      val mks = markers.select($"value", lit(if (strict) 0 else 1).as("tag"),
        $"user_id", $"sess_id")
      val u = pts.unionByName(mks)
        .withColumn("cell", expr(s"value div ${cellUs}L"))
      val isPoint = when($"user_id".isNull, 1L).otherwise(0L)
      val perCell = u.groupBy($"cell").agg(sum(isPoint).as("k"))
        .orderBy($"cell").collect() // bounded: cells = span / cellSeconds
      var acc = 0L
      val prefix = perCell.map { r =>
        val p = (r.getLong(0), acc); acc += r.getLong(1); p
      }.toSeq
      val prefixDf = broadcast(s.createDataFrame(prefix).toDF("cell", "before"))
      val w = Window.partitionBy($"cell").orderBy($"value", $"tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      u.withColumn("r", sum(isPoint).over(w))
        .filter($"user_id".isNotNull)
        .join(prefixDf, Seq("cell"))
        .select($"user_id", $"sess_id", ($"r" + $"before").as("rank"))
    }

    val a = rankPass(sess.select($"hi".as("value")),
      sess.select($"lo".as("value"), $"user_id", $"sess_id"), strict = true)
      .withColumnRenamed("rank", "ended_before")
    val le = rankPass(sess.select($"lo".as("value")),
      sess.select($"hi".as("value"), $"user_id", $"sess_id"), strict = false)
      .withColumnRenamed("rank", "started_at_or_before")
    a.join(le, Seq("user_id", "sess_id"))
      .select($"user_id", $"sess_id",
        (lit(nTotal) - $"ended_before"
          - (lit(nTotal) - $"started_at_or_before") - 1L).as("n_concurrent"))
      .orderBy($"user_id", $"sess_id")
  }
}
