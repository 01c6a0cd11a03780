package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle gate over every declared query path: [[Verify]]
  * writes each `SparkEntry.queries` result at sf0.001 in a child JVM,
  * then `tools/check_oracle.py` replays each path's oracle SQL in DuckDB
  * over the same parquet and compares. A query that throws writes no
  * result, which the checker reports as a failure.
  */
class OracleSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("every declared query path matches the DuckDB oracle at sf0.001") {
    val deps = scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb, pandas")).!(scala.sys.process.ProcessLogger(_ => ())))
    assert(deps.toOption.contains(0),
      "the oracle check needs python3 with the duckdb and pandas modules")

    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")), "oracle-")
    try {
      // a warehouse of its own: the child's managed tables and index
      // store never meet this JVM's
      ChildJvm.runWith(Seq("-Xmx2g", s"-Dspark.sql.warehouse.dir=$out/warehouse"),
        "graft.Verify", sf, s"$out/results")
      val lines = Seq.newBuilder[String]
      val rc = scala.sys.process.Process(
          Seq("python3", "tools/check_oracle.py", sf, s"$out/results"))
        .!(scala.sys.process.ProcessLogger(lines += _, lines += _))
      val report = lines.result()
      // each FAIL line, with the sample rows the checker prints after it
      val failures = report.zipWithIndex.collect { case (l, i) if l.startsWith("FAIL ") =>
        (l +: report.drop(i + 1).takeWhile(_.startsWith("  "))).mkString("\n")
      }
      failures.foreach(info(_))
      val summary = report.reverse.find(_.matches("""\d+ pass, \d+ fail""")).getOrElse("")
      info(summary)
      assert(failures.isEmpty && rc == 0, failures.mkString("\n"))
      assert(summary == s"${SparkEntry.oracleSql.size} pass, 0 fail", report.mkString("\n"))
      assert(SparkEntry.oracleSql.size == 124)
    } finally new scala.reflect.io.Directory(out.toFile).deleteRecursively()
  }
}
