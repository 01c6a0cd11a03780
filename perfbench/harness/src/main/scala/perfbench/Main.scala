package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables}
import graft.sql.GraftSql

/** One closed-loop benchmark run inside one JVM.
  *
  * `Main <plan.json>` reads the plan run.py generated from the seed:
  * the workload, its set-up statements, its warm-up and request
  * streams, and the deployment directories. It sets up once (a fresh
  * session, warehouse and index dir), then sends the requests one after
  * another from a single client thread until the first window boundary
  * after `seconds`, and writes every result and timing to `out_dir` for
  * run.py to check. The program is called only through
  * `GraftSession`, `Tables.registerAll`, `SparkEntry.queries`/`oracleSql`,
  * `GraftSql.sql` and the `graft.functions` column kernels.
  */
object Main {
  /** One request of a plan; `boundary` marks where a window may close. */
  final case class Req(id: Int, kind: String, cls: String, tag: String, text: String,
      boundary: Boolean)
  final case class Done(req: Req, startNs: Long, endNs: Long, rows: Array[Row],
      schema: StructType, err: String, ivf: Boolean, files: Int, bytes: Long)

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    // JVM start on the nanoTime clock (the MXBean start time has ms resolution)
    val jvmStartNs = System.nanoTime -
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val heap = new HeapWatch
    val plan = mapper.readTree(new File(args(0)))
    val run = new Run(plan, heap)
    val code =
      try { run.all(jvmStartNs); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally run.stop()
    System.exit(code)
  }

  def reqs(n: JsonNode): IndexedSeq[Req] =
    n.elements.asScala.zipWithIndex.map { case (r, i) =>
      Req(i, r.get("kind").asText, r.get("cls").asText, r.get("tag").asText,
        r.get("text").asText, r.get("boundary").asBoolean)
    }.toIndexedSeq

  def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements.asScala.map(_.asText).toSeq

  /** Highest heap in use right after any collection (young, mixed or
    * full) while `on`; the window's end turns it off, so the collections
    * forced to measure the retained heap do not count. */
  final class HeapWatch extends NotificationListener {
    @volatile var on = true
    @volatile var peakAfterGc = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > peakAfterGc) peakAfterGc = used
      }
    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Steal and total jiffies of all CPUs from /proc/stat, or None where
    * the file is missing. */
  def hostCpu(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  /** JSON text of a result value. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) mapper.writeValueAsString(d.toString) else d.toString
    case f: Float => json(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case n: java.lang.Number => n.toString
    case t: java.sql.Timestamp => json(t.toInstant.toString)
    case t: java.time.Instant => json(t.toString)
    case d: java.sql.Date => json(d.toLocalDate.toString)
    case r: Row => r.toSeq.map(json).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => a.map(json).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => mapper.writeValueAsString(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case other => mapper.writeValueAsString(other.toString)
  }
}

final class Run(plan: JsonNode, heap: Main.HeapWatch) {
  import Main._

  private val workload = plan.get("workload").asText
  private val seconds = plan.get("seconds").asDouble
  private val traced = plan.get("trace").asBoolean
  private val threads = plan.get("threads").asInt
  private val dataDir = plan.get("data_dir").asText
  private val workDir = plan.get("work_dir").asText
  private val outDir = new File(plan.get("out_dir").asText)
  private val tables = strings(plan.get("managed_tables"))

  private var spark: SparkSession = _
  private var loadedBytes = 0L
  private val trace = new Trace(traced)
  private val counters = new Counters

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def all(jvmStartNs: Long): Unit = {
    outDir.mkdirs()
    setup()
    val requests = reqs(plan.get("requests"))
    val gc0 = heap.gcMillis
    val cpu0 = processCpuNs
    val host0 = hostCpu()
    val done = ArrayBuffer[Done]()
    val w0 = System.nanoTime
    val setupS = (w0 - jvmStartNs) / 1e9
    val deadline = w0 + (seconds * 1e9).toLong
    var i = 0
    // the window closes at the first boundary after `seconds`: between
    // passes (olap) or blocks (interactive), so every run times whole ones
    while (i < requests.length && !(requests(i).boundary && System.nanoTime >= deadline)) {
      done += request(requests(i), timed = true)
      i += 1
    }
    val w1 = System.nanoTime
    heap.on = false
    val gcMs = heap.gcMillis - gc0
    val cpuNs = processCpuNs - cpu0
    val steal = for ((s0, t0) <- host0; (s1, t1) <- hostCpu() if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)
    // outside the window: settle the counters, keep the results, drop the
    // harness's own references to them, then measure the live heap
    if (traced) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    writeResults(done.toSeq)
    done.clear()
    val retained = liveHeap()
    writeLines(new File(outDir, "final.jsonl"), strings(plan.get("final_sql")).map { q =>
      json(GraftSql.sql(spark, q).collect().toSeq)
    })
    // known-defect probes: run once, untimed, each outcome recorded
    writeLines(new File(outDir, "probe.jsonl"), strings(plan.get("probe_sql")).map { q =>
      try s"""{"err":null,"rows":${json(GraftSql.sql(spark, q).collect().toSeq)}}"""
      catch {
        case e: Throwable =>
          s"""{"err":${json(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(400))},"rows":null}"""
      }
    })
    strings(plan.get("probe_queries")).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dataDir)
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(outDir, s"probe/$q").getPath)
      spark.catalog.clearCache()
    }
    val probes = if (traced) new Probes(spark, dataDir).all() else Map.empty[String, Double]
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      trace.write(new File(outDir, "trace.jsonl"), counters)
    }
    writeJson(new File(outDir, "summary.json"), Map[String, Any](
      "setup_s" -> setupS,
      "window_s" -> (w1 - w0) / 1e9,
      "exhausted" -> (i == requests.length),
      "gc_ms" -> gcMs,
      "process_cpu_ns" -> cpuNs,
      "peak_heap_mb" -> heap.peakAfterGc / 1048576.0,
      "retained_heap_mb" -> retained / 1048576.0,
      "host_steal" -> steal.getOrElse(-1.0),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "threads" -> threads,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "probes" -> probes,
      "storage" -> storageStats,
      "after_window_s" -> (System.nanoTime - w1) / 1e9))
  }

  /** Heap in use after full collections, repeated until it settles:
    * Spark's cleaner frees the blocks of what a collection found
    * unreachable only afterwards, on its own thread. */
  private def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = collect()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 6) {
      Thread.sleep(500)
      val now = collect()
      settled = math.abs(now - last) < last / 100
      last = now
      rounds += 1
    }
    last
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  // ------------------------------------------------------------ set-up

  /** Session start, table registration, the workload's set-up steps
    * (index DDL or bulk load) and one warm-up pass. Only deployment
    * paths are set; every engine setting is GraftSession's own.
    */
  private def setup(): Unit = {
    val root = trace.open("setup", "setup", -1)
    trace.span("setup", "session.start", root) {
      spark = GraftSession.builder(s"local[$threads]")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .config("graft.index.dir", s"$workDir/index")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      GraftSession.init(spark)
    }
    if (traced) spark.sparkContext.addSparkListener(counters)
    trace.span("setup", "tables.register", root) { Tables.registerAll(spark, dataDir) }
    plan.get("setup_steps").elements.asScala.foreach { step =>
      trace.span("setup", step.get("name").asText, root) {
        strings(step.get("sql")).foreach(s => GraftSql.sql(spark, s).collect())
      }
    }
    loadedBytes = tableFiles().values.sum
    trace.span("setup", "warmup", root) {
      reqs(plan.get("warmup")).foreach { r =>
        val d = request(r, timed = false)
        if (d.err != null) throw new IllegalStateException(s"warm-up request failed: ${r.text}\n${d.err}")
      }
    }
    trace.close(root)
  }

  // ---------------------------------------------------------- requests

  private def front(r: Req): DataFrame = r.kind match {
    case "query" => SparkEntry.queries(r.text)(spark, dataDir)
    case _ => GraftSql.sql(spark, r.text)
  }

  private def request(r: Req, timed: Boolean): Done = {
    val rid = if (timed) s"r${r.id}" else s"w${r.id}"
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(rid, r.tag, interruptOnCancel = false)
    val before = if (traced && timed && r.cls == "write") tableFiles() else Map.empty[String, Long]
    val root = trace.open(rid, "request", -1)
    val t0 = System.nanoTime
    var rows: Array[Row] = null
    var schema: StructType = null
    var err: String = null
    var ivf = false
    try {
      val df = trace.span(rid, if (r.kind == "query") "queries.build" else "sql.front", root) {
        front(r)
      }
      if (traced) {
        val p = trace.span(rid, "plan", root) { df.queryExecution.executedPlan }
        ivf = p.toString.contains("__ivf_cell")
      }
      rows = trace.span(rid, "exec", root) { df.collect() }
      schema = df.schema
    } catch {
      case e: Throwable =>
        err = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(600)
    }
    val t1 = System.nanoTime
    trace.close(root)
    if (traced) sc.clearJobGroup()
    // queries persist per-call frames and leave their release to the caller
    if (r.kind == "query") spark.catalog.clearCache()
    var files = 0
    var bytes = 0L
    if (before.nonEmpty || (traced && timed && r.cls == "write")) {
      val after = tableFiles()
      val fresh = after.keySet -- before.keySet
      files = fresh.size
      bytes = fresh.toSeq.map(after).sum
    }
    Done(r, t0, t1, rows, schema, err, ivf, files, bytes)
  }

  /** Data files of the benchmark's managed tables: path -> bytes. */
  private def tableFiles(): Map[String, Long] = {
    val wh = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("part-")) Seq(f) else Nil
    tables.flatMap(t => walk(new File(wh, t)))
      .map(f => f.getPath -> f.length).toMap
  }

  private def storageStats: Map[String, Any] =
    if (tables.isEmpty) Map.empty
    else {
      val f = tableFiles()
      Map("table_files" -> f.size, "table_bytes" -> f.values.sum, "loaded_bytes" -> loadedBytes)
    }

  // ------------------------------------------------------------ output

  private def writeResults(done: Seq[Done]): Unit = {
    val w = new PrintWriter(new File(outDir, "requests.jsonl"), "UTF-8")
    val olapVariants = scala.collection.mutable.LinkedHashMap[(String, Int), Done]()
    try done.foreach { d =>
      val head = s"""{"i":${d.req.id},"start_ns":${d.startNs},"end_ns":${d.endNs},""" +
        s""""err":${json(d.err)},"ivf":${d.ivf},"files":${d.files},"bytes":${d.bytes},"""
      val body =
        if (d.rows == null) """"rows":null"""
        else if (d.req.kind == "query") {
          // one copy of each distinct result per query goes to parquet;
          // every request names the copy its own rows equal
          val fp = d.rows.map(_.toString).sorted.toSeq.hashCode
          if (!olapVariants.contains((d.req.text, fp)))
            olapVariants((d.req.text, fp)) = d
          s""""variant":"${d.req.text}__${fp & 0x7fffffff}","nrows":${d.rows.length}"""
        } else s""""rows":${json(d.rows.toSeq)}"""
      w.println(head + body + "}")
    } finally w.close()
    olapVariants.foreach { case ((name, fp), d) =>
      spark.createDataFrame(d.rows.toSeq.asJava, d.schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(outDir, s"olap/${name}__${fp & 0x7fffffff}").getPath)
    }
    if (workload == "olap") {
      val names = olapVariants.keys.map(_._1).toSet ++ strings(plan.get("probe_queries"))
      writeJson(new File(outDir, "oracle.json"),
        SparkEntry.oracleSql.filter { case (k, _) => names(k) })
    }
  }

  private def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def writeJson(f: File, m: Map[String, Any]): Unit = {
    def enc(v: Any): String = v match {
      case m: Map[_, _] =>
        m.map { case (k, x) => json(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
      case s: Seq[_] => s.map(enc).mkString("[", ",", "]")
      case other => json(other)
    }
    val w = new PrintWriter(f, "UTF-8")
    try w.print(enc(m)) finally w.close()
  }
}
