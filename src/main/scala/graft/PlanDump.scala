package graft

/** Measurement utility (optimization guide §1/§7.2): writes
  * `.explain("formatted")` for every named query to `<outDir>/<name>.txt`.
  * Usage: runMain graft.PlanDump <outDir> [name ...]  (default: the Bench
  * headline set). Plans are captured, not executed — index-DDL queries
  * (v6 etc.) still run their build step during analysis.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // plan capture must not execute jobs at DataFrame-construction time
    // (operators gate their eager materializations on this)
    System.setProperty("graft.plan.only", "1")
    val outDir = args.headOption.getOrElse("plans/r13")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Bench.headlineNames
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$n.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
