package graft

import org.apache.spark.sql.SparkSession

/** Quiet-window scout (r12): prints one CPU + memory-bandwidth sentinel
  * pair in ~20 s, so a long sf10 campaign can be launched only when the
  * host reads quiet (cpu ≈ 0.2-0.3 s, mem ≈ 0.03-0.05 s on this box)
  * instead of discovering contention in the artifact afterwards.
  *
  *   dev/run_main.sh graft.SentinelCheck [reps]
  */
object SentinelCheck {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mem = new Sentinels.Mem(1024, math.min(8, cpus.toInt))
    Sentinels.cpu(spark); mem.run() // untimed: codegen compile + JIT
    val readings = (1 to reps).map { _ =>
      (Sentinels.cpu(spark), mem.run())
    }
    def arr(f: ((Double, Double)) => Double) =
      readings.map(r => f"${f(r)}%.3f").mkString("[", ",", "]")
    println(s"""{"probe":"sentinels","cpu":${arr(_._1)},"mem":${arr(_._2)}}""")
    spark.stop()
  }
}
