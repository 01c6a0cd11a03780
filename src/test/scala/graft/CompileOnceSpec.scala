package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A query shape compiles once per JVM: Spark's cache of generated
  * classes, sized in [[GraftSession.builder]], holds the whole working
  * set of the [[Bench.headlineNames]] queries, so running them again in
  * turn compiles nothing. The cache size is fixed JVM-wide when the first
  * class is generated, so the rounds run in a child JVM with a session of
  * its own.
  */
class CompileOnceSpec extends AnyFunSuite {

  test("the headline queries compile no class on their third round") {
    val wh = java.nio.file.Files.createTempDirectory("compile-once")
    val out =
      try ChildJvm.run("graft.CompileRounds", "/root/testdata/sf0.001", wh.toString)
      finally new scala.reflect.io.Directory(wh.toFile).deleteRecursively()
    val report = out.filter(l => l.startsWith("round") || l.startsWith("maxEntries"))
    report.foreach(info(_))
    assert(report.contains("maxEntries=1024"), report.mkString("\n"))
    val round3 = report.find(_.startsWith("round3 ")).getOrElse(fail(report.mkString("\n")))
    assert(round3.startsWith("round3 compiles=0 "), report.mkString("\n"))
  }
}

/** Runs the [[Bench.headlineNames]] queries in sorted order for three
  * rounds in one session from [[GraftSession.builder]], each to the
  * `noop` sink as `Bench` does. Prints `maxEntries=` the session's
  * generated-class cache size, then per round
  * `roundN compiles=<total> <query>:<classes compiled>…` for each query
  * that compiled any class.
  * Usage: `CompileRounds <sf dir> <warehouse dir>`.
  */
object CompileRounds {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, wh) = args
    val spark = GraftSession.builder("local[2]")
      .config("spark.sql.warehouse.dir", wh)
      .config("graft.index.dir", s"$wh/indexes").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"maxEntries=${spark.conf.get("spark.sql.codegen.cache.maxEntries")}")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    try for (round <- 1 to 3) {
      val counts = Bench.headlineNames.sorted.map { n =>
        val before = compiles.getCount
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        n -> (compiles.getCount - before)
      }
      println(s"round$round compiles=${counts.map(_._2).sum} " +
        counts.collect { case (n, c) if c > 0 => s"$n:$c" }.mkString(" "))
    } finally spark.stop()
  }
}
