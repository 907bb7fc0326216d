package graft

import org.apache.spark.sql.SparkSession

/** Focused bench: time ONE SparkEntry query (min-of-N) — for isolating a
  * single operator's scaling without paying a full Bench sweep.
  *
  *   sbt "runMain graft.BenchOne g_pagerank /root/repo/target/sf1 3"
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
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
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally Caches.clearAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    println(f"""{"query":"$name","min":${ts.min}%.3f,"runs":${ts.map(t => f"$t%.3f").mkString("[", ",", "]")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
