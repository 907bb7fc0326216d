package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Job-shape probe (r17 optimization round): run each named query once
  * (after a warm-up rep) and report, per query, wall-clock seconds plus
  * the scheduler-level shape — #jobs, #stages, #tasks, summed executor
  * task time, summed shuffle bytes. The gap between wall-clock and
  * (task time / cores) is scheduling / driver / planning overhead: at
  * bench scale (sf0.1) the iterative graph entries are suspected to be
  * JOB-COUNT-bound, not data-bound, and this probe is the measurement
  * that decides which loop to restructure (guide §1: measure first).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.ProbeJobs q1 q2 ...
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "pass query names")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    // per-stage rows for the detail report: (name, numTasks, taskMs, wallMs)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
    val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        val tm = Option(stageTaskMs.get(sc.stageInfo.stageId)).map(_.get).getOrElse(0L)
        val wall = (for {
          a <- sc.stageInfo.submissionTime; b <- sc.stageInfo.completionTime
        } yield b - a).getOrElse(0L)
        stageRows.add((sc.stageInfo.name.takeWhile(_ != '\n').take(90),
          sc.stageInfo.numTasks, tm, wall))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
          stageTaskMs.computeIfAbsent(t.stageId, _ => new AtomicLong(0L))
            .addAndGet(t.taskMetrics.executorRunTime)
          shufRead.addAndGet(t.taskMetrics.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    })
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0L); shufRead.set(0L); shufWrite.set(0L)
      stageRows.clear(); stageTaskMs.clear()
    }

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally Caches.clearAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    runOnce(args.head) // warm-up: JIT, codegen, FS metadata
    val out = args.toSeq.map { n =>
      runOnce(n) // per-query warm rep so codegen compiles don't pollute
      Thread.sleep(500) // let the async listener bus drain
      reset()
      val sec = runOnce(n)
      Thread.sleep(500)
      if (sys.env.get("GRAFT_PROBE_STAGES").contains("1")) {
        import scala.jdk.CollectionConverters._
        System.err.println(s"==== $n top stages by task time")
        stageRows.asScala.toSeq.sortBy(-_._3).take(15).foreach {
          case (nm, nt, tm, wall) =>
            System.err.println(f"  task_s=${tm / 1e3}%7.2f wall_s=${wall / 1e3}%6.2f tasks=$nt%4d  $nm")
        }
      }
      f"""{"q":"$n","sec":$sec%.3f,"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"task_sec":${taskMs.get / 1e3}%.2f,"shuf_read_mb":${shufRead.get / 1e6}%.1f,"shuf_write_mb":${shufWrite.get / 1e6}%.1f}"""
    }
    println(out.mkString("[", ",\n", "]"))
    spark.stop()
  }
}
