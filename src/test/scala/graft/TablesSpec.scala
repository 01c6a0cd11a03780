package graft

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Guard against testdata regeneration silently breaking ingestion: every
  * table at every available SF must load, have rows, and events.ts must
  * resolve to a plain TIMESTAMP whatever the parquet writer encoded.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(d => s"/root/testdata/$d")
    .filter(d => new java.io.File(d).isDirectory)

  test("testdata dirs are present") {
    assert(sfDirs.nonEmpty, "no /root/testdata/sf* dirs found")
  }

  test("every table loads with rows at every SF") {
    for (dir <- sfDirs; name <- Tables.names) {
      val df = Tables.load(spark, dir, name)
      assert(df.columns.nonEmpty, s"$dir/$name has no columns")
      assert(df.limit(1).count() == 1, s"$dir/$name is empty")
    }
  }

  test("plan cache frees a session's entry when the application ends") {
    Tables.load(spark, sfDirs.head, "region")
    assert(Tables.planCacheSize >= 1)
    // simulate the context's stop signal: Tables.load registered an
    // ApplicationEnd listener on this context; post the event through the
    // (bytecode-public) listener bus rather than stopping the shared test
    // context out from under every other suite
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
    val post = bus.getClass.getMethods
      .find(m => m.getName == "post" && m.getParameterCount == 1).get
    post.invoke(bus,
      org.apache.spark.scheduler.SparkListenerApplicationEnd(System.currentTimeMillis()))
    val deadline = System.nanoTime() + 10e9.toLong
    while (Tables.planCacheSize != 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(Tables.planCacheSize == 0, "entry not freed on application end")
    // re-load works and re-registers (idempotent lifecycle)
    Tables.load(spark, sfDirs.head, "region")
    assert(Tables.planCacheSize == 1)
  }

  test("re-creating session state adds no ApplicationEnd listener") {
    val sc = spark.sparkContext
    Tables.load(spark, sfDirs.head, "region")
    val before = org.apache.spark.GraftTestBus.listenerCount(sc)
    (1 to 50).foreach { _ =>
      Tables.clearPlanCache()
      Tables.load(spark, sfDirs.head, "region")
    }
    assert(org.apache.spark.GraftTestBus.listenerCount(sc) == before)
  }

  test("events.ts is a usable session-zone timestamp") {
    for (dir <- sfDirs) {
      val df = Tables.events(spark, dir)
      val dt = df.schema("ts").dataType
      assert(dt == TimestampType, s"$dir events.ts is $dt, want TimestampType")
      assert(dt != TimestampNTZType)
      // the projection the r6 regression died on must analyze and run
      import org.apache.spark.sql.functions._
      val minMax = df.agg(min("ts"), max("ts")).collect()(0)
      assert(minMax.getTimestamp(0) != null && minMax.getTimestamp(1) != null)
      assert(!minMax.getTimestamp(0).after(minMax.getTimestamp(1)))
    }
  }
}
