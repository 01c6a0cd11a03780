package graft

/** Measurement utility (optimization guide §1): times ONE declared query
  * `runs` times to the noop sink and prints every sample, so a change's
  * effect is visible without re-running the whole bench. Next to the
  * times it prints how many classes each run compiled with Janino
  * (`compiles=`, from Spark's `CodegenMetrics`): 0 after the warm-up
  * means the run reused every generated class.
  * Usage: runMain graft.BenchOne <name> [runs]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_JOBLOG=1: print per-job wall time + description so a
    // query's cost splits into its constituent Spark jobs (guide §1.5)
    if (sys.env.contains("SPARK_GRAFT_JOBLOG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(),
              Option(j.properties.getProperty("spark.job.description"))
                .getOrElse("")))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            starts.remove(j.jobId).foreach { case (t0, desc) =>
              println(f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f  $desc")
            }
        })
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val samples = (0 until runs + 1).map { i =>
      spark.sparkContext.setJobDescription(s"$name run $i")
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      val c = compiles.getCount - c0
      spark.catalog.clearCache()
      System.gc()
      (t, c)
    }
    spark.stop()
    val (warm, warmCompiles) = samples.head
    println(f"[benchone] $name warmup=$warm%.3f runs=" +
      samples.tail.map(s => f"${s._1}%.3f").mkString(",") +
      s" compiles=$warmCompiles;" + samples.tail.map(_._2).mkString(","))
  }
}
