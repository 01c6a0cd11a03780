package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs a main of this build in a child JVM with this JVM's classpath
  * and module flags (a suite's shared session cannot be stopped or
  * rebuilt in-process). Returns the child's output lines; fails on a
  * non-zero exit. `runWith` adds JVM flags after these (a later `-Xmx`
  * or `-D` wins); `runEnv` also sets environment variables of the child.
  */
object ChildJvm {
  def run(main: String, args: String*): Seq[String] = runWith(Nil, main, args: _*)

  def runWith(extra: Seq[String], main: String, args: String*): Seq[String] =
    runEnv(Nil, extra, main, args: _*)

  def runEnv(env: Seq[(String, String)], extra: Seq[String], main: String,
      args: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ flags ++
      Seq("-Xmx1g") ++ extra ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args
    val out = new StringBuilder
    val rc = scala.sys.process.Process(cmd, None, env: _*).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(rc == 0, out.toString.takeRight(4000))
    out.toString.split('\n').toSeq
  }
}

/** Counts the Spark jobs that a block starts. The block runs in a job
  * group of its own and a listener counts the job starts tagged with it;
  * the listener bus is drained before the count is read, so every job
  * the block started has been seen.
  */
object JobCount {
  private val groups = new java.util.concurrent.atomic.AtomicInteger()

  /** `body`'s result and the number of jobs it started. */
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${groups.incrementAndGet()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  // the listener bus is private[spark] but bytecode-public
  private[graft] def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0).get.invoke(bus)
  }
}

/** Counts the write commands that a block runs: the query executions,
  * seen by a session listener, whose plan writes a table or files
  * (`insertInto`, `saveAsTable`, `write.parquet`, `INSERT` statements).
  * The listener bus is drained before the block and before the count is
  * read.
  */
object WriteCount {
  /** `body`'s result and the number of write commands it ran. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.exists {
          case _: DataWritingCommand | _: V2WriteCommand => true
          case _ => false
        }) writes.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the events of earlier statements must not reach the new listener
    JobCount.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      JobCount.drain(spark.sparkContext)
      (out, writes.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
