package graft

import org.apache.spark.sql.SparkSession

/** Extended large-SF bench (r12, VERDICT r11 #6): the iterative-graph
  * standing records previously lived scattered across three rounds of
  * ad-hoc BenchOne runs in SURVEY prose (walks 115 s, node2vec 107.8 s,
  * PPR 140 s, weighted paths 143 s, betweenness 68 s, LPA 269.7 s,
  * HITS 215 s…). This main times exactly that set — min-of-2, dual
  * contention sentinels — into ONE artifact (BENCH_SF10_EXT_r{N}.json)
  * that SURVEY §5 cites instead of prose numbers.
  *
  * Min-of-2 (not Bench's min-of-3): each entry here runs minutes at
  * sf10; a third rep buys little once the two agree, and the sentinel
  * pair already certifies the window. The headline Bench set is NOT
  * duplicated here — run Bench with GRAFT_BENCH_EXTRAS=0 for that.
  *
  *   SPARK_GRAFT_SF_DIR=target/sf10 sbt "runMain graft.BenchSf10"
  */
object BenchSf10 {
  // the loop-heavy graph set: every entry whose sf10 record SURVEY §5
  // tracks as a standing number
  private val set = Seq(
    "g_pagerank", "g_pagerank_weighted", "g_communities", "g_hits",
    "g_ppr", "g_betweenness", "g_closeness", "g_weighted_paths",
    "g_random_walks", "g_node2vec",
    // r13: HyperANF distance profile (standing record 379.3 s, §5 r13)
    "g_reach_profile",
    // r14: HyperBall harmonic centrality (the same loop + per-node state;
    // r15 fused the two into one pass; r16 times the pair as a GROUP —
    // reach cold, harmonic as the memoized second read, attributed via
    // "memoized_after" in the artifact)
    "g_harmonic_all",
    // r15: one-level deterministic Louvain (5 synchronous ΔQ sweeps)
    "g_louvain")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/target/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.get("GRAFT_SF10_REPS").map(_.toInt).getOrElse(2)
    val only = args.toSeq // optional: bench a subset, e.g. "g_hits"
    // fail fast on any unrecognized name (r13, ADVICE r12): silently
    // dropping a typo'd arg either benches the wrong subset or — when
    // nothing matches — dies later with NoSuchElementException
    val unknown = only.filterNot(set.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[benchsf10] unknown name(s): ${unknown.mkString(", ")}" +
        s" — valid: ${set.mkString(", ")}")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Settle OUTSIDE every timed region (r14): runOnce's clearAll is
    // non-blocking by design, so after a sketch-heavy query (HyperANF
    // balls are ~10s of GB of localCheckpoint blocks) eviction and GC
    // churn CONTINUE into whatever runs next. Measured symptom: every
    // r13/r14 BenchSf10 window whose warm-up was g_reach_profile read
    // an inflated cpu/mem PRE sentinel (2.8–7.3 / 0.09–0.40 vs the r12
    // quiet 0.196/0.037, whose warm-up was the lighter g_pagerank) —
    // the "co-tenant" the sentinels kept flagging was partly our own
    // async cleanup. A blocking unpersist + an explicit GC between
    // timed regions makes reps independent and lets the sentinels
    // measure the HOST, which is their job.
    def settle(): Unit = try {
      Caches.clearAll()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(1000)
    } catch { case e: Throwable =>
      // r16: an executor OOM can kill the SparkContext mid-deck; settle()
      // then threw on the stopped context UNCAUGHT and the whole artifact
      // was lost (the r16 first window died this way — g_reach_profile
      // OOM'd at 64g, every completed entry's timing evaporated). Swallow:
      // the remaining entries fail fast in timeOne and the JSON still
      // prints with the completed entries' numbers.
      System.err.println(s"[benchsf10] settle failed: ${e.getMessage}")
      Caches.reset()
    }

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[benchsf10] $name failed: ${e.getMessage}")
        -1.0
      }
    }

    def runOnce(name: String): Double = {
      val dt = timeOne(name)
      settle() // untimed: the next measurement starts on a quiet JVM
      dt
    }

    val names = if (only.nonEmpty) set.filter(only.contains) else set
    // parse EVERY env knob before the multi-hour timed loop (the r13
    // unknown-name lesson applied to env vars): a malformed
    // GRAFT_QUIET_FACTOR parsed only at verdict time would throw AFTER
    // hours of measurement, losing the whole window's output
    val qf = sys.env.get("GRAFT_QUIET_FACTOR").map(_.toDouble).getOrElse(5.0)
    val memMiB = sys.env.get("GRAFT_MEM_SENTINEL_MIB").map(_.toInt).getOrElse(1024)
    val mem = new Sentinels.Mem(memMiB, math.min(8, cpus.toInt))
    runOnce(names.head) // warm-up: JIT, codegen, FS metadata (settles after)
    Sentinels.cpu(spark) // first execution pays its own codegen compile
    mem.run() // JIT, untimed

    // PER-ENTRY sentinels (r15, VERDICT r14 #4): whole-window stamps
    // proved too coarse for a multi-hour artifact — one co-tenant burst
    // invalidated every entry, and four r13/r14 windows died that way.
    // Each entry now carries its own pre/post cpu+mem pair (stamped on
    // the settled JVM the settle() step guarantees), so a burst costs
    // ONE entry, not the window.
    case class Entry(name: String, repsS: Seq[Double],
        cpuPre: Double, memPre: Double, cpuPost: Double, memPost: Double,
        memoizedAfter: Option[String] = None)
    // r16 (VERDICT r15 #6): the G21/G22 loop is FUSED and session-
    // memoized, but settle() clears the memo between entries — so the
    // r15 deck paid the full fused pass TWICE (445.2 + 492.2 s for one
    // loop's information) and round totals double-counted it. When both
    // entries are in the run they now time as a UNIT per rep: reach pays
    // the cold fused pass, harmonic is the memoized second read off the
    // same warm session (no settle in between — that IS the serving
    // economics measured in r15: 675.8 s cold + 8.4 s memoized),
    // and the artifact attributes it via "memoized_after".
    val fusedPair = Seq("g_reach_profile", "g_harmonic_all")
    val groups: Seq[Seq[String]] =
      if (fusedPair.forall(names.contains))
        names.filterNot(_ == "g_harmonic_all").map {
          case "g_reach_profile" => fusedPair
          case n => Seq(n)
        }
      else names.map(Seq(_))
    // sentinel stamps survive a dead context too (same rationale as the
    // settle guard): -1 marks "unstampable", which also reads as loud
    def cpuSafe(): Double =
      try Sentinels.cpu(spark) catch { case _: Throwable => -1.0 }
    val results = groups.flatMap { grp =>
      val cpuPre = cpuSafe()
      val memPre = mem.run()
      // the mem sentinel just streamed 1 GiB — give GC its moment so
      // rep 1 doesn't start on sentinel-induced churn (the r14 settle
      // lesson applied to the new per-entry stamps; min-of-reps would
      // mask it, GRAFT_SF10_REPS=1 would not)
      System.gc()
      Thread.sleep(1000)
      // each rep times the whole group in order and settles only AFTER
      // it — a later group member reads the session the earlier one
      // warmed (single-name groups degrade to the old per-entry shape)
      val repTs: Seq[Seq[Double]] = Seq.fill(reps) {
        val ts = grp.map(timeOne)
        settle()
        ts
      }
      val cpuPost = cpuSafe()
      val memPost = mem.run()
      grp.zipWithIndex.map { case (n, i) =>
        Entry(n, repTs.map(_(i)), cpuPre, memPre, cpuPost, memPost,
          memoizedAfter = if (i > 0) Some(grp.head) else None)
      }
    }
    // quiet verdict is SELF-REFERENCED: the window's best stamp is what
    // this host does undisturbed; an entry whose worst stamp exceeds it
    // by more than GRAFT_QUIET_FACTOR ran next to something and says so.
    // Default 5×, retuned on the maiden per-entry dataset
    // (BENCH_SF10_EXT_r15.json): the first run shipped 1.5×, which
    // flagged ordinary inter-entry jitter (quiet-window cpu stamps
    // ranged 0.061-0.52 s — ALL far below the r13/r14 burst class of
    // 2.8-7.3 s); at 5× the one genuinely disturbed entry (g_pagerank:
    // pre-stamp 8.5× ref, first rep 2.1× its second) stays flagged and
    // the ordinary-jitter false positives clear (qf parsed up front,
    // before the timed loop)
    val cpuRef = results.flatMap(e => Seq(e.cpuPre, e.cpuPost))
      .filter(_ > 0.0) match { case s if s.isEmpty => -1.0 case s => s.min }
    val memRef = results.flatMap(e => Seq(e.memPre, e.memPost))
      .filter(_ > 0.0) match { case s if s.isEmpty => 0.0 case s => s.min }
    def quiet(e: Entry): Boolean = {
      val cpuOk = math.max(e.cpuPre, e.cpuPost) <= cpuRef * qf
      val memOk = memRef == 0.0 ||
        math.max(e.memPre, e.memPost) <= memRef * qf
      cpuOk && memOk
    }
    // ADVICE r15 #4: the self-referenced quiet verdict cannot see a
    // co-tenant load that is STEADY across the whole window (it raises
    // the reference and every entry reads quiet). Compare the window's
    // own minimum against the known undisturbed host stamps (the r12
    // quiet band: cpu 0.196 s, mem 0.037 s/MiB-norm — the values every
    // burst adjudication since r12 has cited), overridable per host.
    val cpuAbs = sys.env.get("GRAFT_CPU_REF_ABS").map(_.toDouble).getOrElse(0.196)
    val memAbs = sys.env.get("GRAFT_MEM_REF_ABS").map(_.toDouble).getOrElse(0.037)
    val windowQuiet = cpuRef > 0.0 && cpuRef <= cpuAbs * qf &&
      (memRef == 0.0 || memRef <= memAbs * qf)
    val qs = results.map { e =>
      val v = if (e.repsS.exists(_ < 0)) -1.0 else e.repsS.min
      val repsJson = e.repsS.map(t => f"$t%.3f").mkString("[", ",", "]")
      val attr = e.memoizedAfter
        .map(a => s""","memoized_after":"$a"""").getOrElse("")
      "\"" + e.name + "\":{" +
        f""""secs":$v%.3f,"reps":$repsJson,""" +
        f""""cpu_pre":${e.cpuPre}%.3f,"cpu_post":${e.cpuPost}%.3f,""" +
        f""""mem_pre":${e.memPre}%.3f,"mem_post":${e.memPost}%.3f,""" +
        s""""quiet":${quiet(e)}$attr}"""
    }.mkString("{", ",", "}")
    val total = results.map(e => if (e.repsS.exists(_ < 0)) -1.0 else e.repsS.min)
      .filter(_ >= 0).sum
    println(f"""{"queries":$qs,"sf":"$sfDir","reps":$reps,"cpu_ref":$cpuRef%.3f,"mem_ref":$memRef%.3f,"cpu_ref_abs":$cpuAbs%.3f,"mem_ref_abs":$memAbs%.3f,"window_quiet":$windowQuiet,"metric":"total","unit":"sec","value":$total%.3f}""")
    spark.stop()
  }
}
