package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The function table ([[GraftExtensions.functions]]) is graft's whole
  * SQL surface, reachable from the cluster route alone:
  * `spark.sql.extensions=graft.GraftExtensions`, with no
  * `GraftSession.init` and no `GraftSql.sql` call.
  */
class FunctionTableSpec extends AnyFunSuite {

  test("the function table names each function once") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("an extension-only session resolves every graft function name") {
    val lines = ChildJvm.run("graft.ExtensionOnly").filter(_.contains("="))
    val got = lines.map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    assert(got("missing") == "", lines.mkString("\n"))
    val Array(first, second, afterInit) = got("sizes").split(",")
    assert(first == second && second == afterInit, lines.mkString("\n"))
    assert(got("nextval") == "1,2", lines.mkString("\n"))
  }
}

/** Runs a main of this build in a child JVM with this JVM's classpath
  * and module flags (a suite's shared session cannot be stopped or
  * rebuilt in-process). Returns the child's output lines; fails on a
  * non-zero exit.
  */
object ChildJvm {
  def run(main: String, args: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), main) ++ args
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc == 0, out.toString.takeRight(4000))
    out.toString.split('\n').toSeq
  }
}

/** A plain session configured only with `spark.sql.extensions`. Prints
  *  - `missing=` the names of `graft/function-names.txt` (the surface
  *    that `GraftSession.init` plus one `GraftSql.sql` statement used to
  *    leave) that do not resolve to a graft function;
  *  - `sizes=` the registry size of the session, of a `newSession()`,
  *    and of that new session after `GraftSession.init`;
  *  - `nextval=` two `nextval` calls on a sequence created in the
  *    session.
  */
object ExtensionOnly {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]").appName("extension-only")
      .config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val registry = spark.sessionState.functionRegistry
      val names = scala.io.Source.fromResource("graft/function-names.txt")
        .getLines().map(_.trim).filter(_.nonEmpty).toSeq
      val missing = names.filterNot(n =>
        registry.lookupFunction(FunctionIdentifier(n)).exists(_.getClassName == "graft"))
      println(s"missing=${missing.mkString(",")}")
      val fresh = spark.newSession()
      val before = fresh.sessionState.functionRegistry.listFunction().size
      GraftSession.init(fresh)
      println(s"sizes=${registry.listFunction().size},$before," +
        fresh.sessionState.functionRegistry.listFunction().size)
      graft.sql.Sequences.create(spark, "ext_seq", "", ifNotExists = false)
      val next = (1 to 2).map(_ => spark.sql("SELECT nextval('ext_seq')").head.get(0))
      println(s"nextval=${next.mkString(",")}")
    } finally spark.stop()
  }
}
