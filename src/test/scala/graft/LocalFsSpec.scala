package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.sql.GraftSql
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Local writes start no child process: a session from
  * [[GraftSession.builder]] writes through [[GraftLocalFileSystem]], which
  * sets and reads permissions through java.nio where Hadoop's raw local
  * file system runs `chmod` and `ls -ld`. The writes run in a child JVM
  * whose `PATH` starts with logging `chmod` and `ls` shims; a call of
  * Hadoop's stock raw file system at the end shows that the shims see
  * its forks.
  */
class LocalFsSpec extends AnyFunSuite {

  /** A `PATH` entry holding `chmod` and `ls` scripts that append their
    * command line to `log` and run the real command.
    */
  private def shims(dir: JPath, log: JPath): Unit =
    Seq("chmod", "ls").foreach { cmd =>
      val real = sys.env("PATH").split(':').iterator.map(d => new java.io.File(d, cmd))
        .find(_.canExecute).getOrElse(fail(s"no $cmd on PATH"))
      val script = dir.resolve(cmd)
      Files.write(script, Seq("#!/bin/sh", s"""echo "$cmd $$*" >> '$log'""",
        s"""exec '$real' "$$@"""").mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.setPosixFilePermissions(script, PosixFilePermissions.fromString("rwxr-xr-x"))
    }

  test("INSERT, UPDATE, DELETE and a parquet write fork no chmod or ls") {
    val tmp = Files.createTempDirectory("local-fs")
    try {
      val bin = Files.createDirectory(tmp.resolve("bin"))
      val log = tmp.resolve("forks.log")
      Files.createFile(log)
      shims(bin, log)
      val out = ChildJvm.runEnv(Seq("PATH" -> s"$bin:${sys.env("PATH")}"), Nil,
        "graft.LocalWrites", tmp.resolve("wh").toString, log.toString)
      val report = out.filter(l => l.startsWith("rows=") || l.startsWith("forks="))
      report.foreach(info(_))
      assert(report == Seq("rows=1,5", "forks=0", "forks=1"),
        (out.takeRight(20) ++ Files.readAllLines(log).toArray.toSeq).mkString("\n"))
    } finally new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }
}

/** Creates a managed table through [[GraftSql.sql]] in a session from
  * [[GraftSession.builder]], inserts, updates and deletes rows, writes a
  * parquet file, and prints `rows=` the table's rows and `forks=` the
  * lines of the fork log. Then sets a permission through Hadoop's stock
  * raw local file system and prints `forks=` again.
  * Usage: `LocalWrites <warehouse dir> <fork log>`.
  */
object LocalWrites {
  def main(args: Array[String]): Unit = {
    val Array(wh, log) = args
    def forks(): Int = Files.readAllLines(java.nio.file.Paths.get(log)).size
    val spark = GraftSession.builder("local[1]")
      .config("spark.sql.warehouse.dir", wh).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sql(q: String) = GraftSql.sql(spark, q).collect()
    sql("create table lw_t (id int, v int)")
    sql("insert into lw_t values (1, 1), (2, 2)")
    sql("update lw_t set v = 5 where id = 1")
    sql("delete from lw_t where id = 2")
    spark.range(3).write.parquet(s"$wh/lw.parquet")
    println("rows=" + sql("select * from lw_t").map(_.mkString(",")).mkString(";"))
    println(s"forks=${forks()}")
    val raw = new RawLocalFileSystem()
    raw.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    raw.setPermission(new Path(s"$wh/lw.parquet"), new FsPermission("755"))
    println(s"forks=${forks()}")
    spark.stop()
  }
}
