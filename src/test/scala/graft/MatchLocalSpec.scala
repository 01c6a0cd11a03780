package graft

import graft.sql.GraftSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** SQL `MATCH … AGAINST` scored on the driver from one postings probe
  * (the probe fits under `spark.sql.autoBroadcastJoinThreshold`) against
  * the distributed DataFrame evaluator, forced by setting that threshold
  * to -1: the same documents, and the same scores — bit for bit where a
  * score comes from one leaf, within 1e-12 relative where it is a sum
  * of several (Spark sums in no fixed order).
  */
class MatchLocalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def sql(q: String): DataFrame = GraftSql.sql(spark, q)

  private lazy val tables: Unit = {
    import spark.implicits._
    Seq("ftl_docs", "ftl_json", "ftl_zh").foreach(t => sql(s"DROP TABLE IF EXISTS $t"))
    val fixed = Seq(
      "spark join fast data", "data stream spark join window",
      "spark spark join join", "error log in stream spark",
      "slow batch io spark", "window functions rule io")
    val vocab = Seq("spark", "stream", "streams", "join", "window", "data", "batch",
      "error", "log", "fast", "slow", "query", "io", "db")
    val rnd = new scala.util.Random(7)
    val texts = fixed ++ (1 to 54).map(_ =>
      Seq.fill(5 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t, vocab(i % vocab.length) + " notes") }
      .toDF("id", "text", "source").write.saveAsTable("ftl_docs")
    Seq((1L, """{"color": "red", "size": 3}"""), (2L, """["blue", "red", "green"]"""),
      (3L, """{"a": {"b": "red red"}}"""), (4L, """{"color": "blue"}"""))
      .toDF("id", "j").write.saveAsTable("ftl_json")
    sql("CREATE FULLTEXT INDEX ftl_jidx ON ftl_json (j) WITH PARSER json")
    Seq((1L, "火花流式处理"), (2L, "数据库查询优化"), (3L, "火花火花连接"), (4L, "火花连接数据库"))
      .toDF("id", "t").write.saveAsTable("ftl_zh")
    sql("CREATE FULLTEXT INDEX ftl_zidx ON ftl_zh (t) WITH PARSER gojieba")
  }

  private def scores(q: String): (Map[Any, Double], Boolean) = {
    val df = sql(q)
    // the driver evaluator's scores arrive as a LocalRelation(doc_id, score)
    val local = df.queryExecution.analyzed.collectFirst {
      case l: LocalRelation if l.output.exists(_.name == "score") => l
    }.isDefined
    (df.collect().map(r => r.get(0) -> r.getDouble(1)).toMap, local)
  }

  /** Run `q` on both evaluators and compare. */
  private def same(q: String, multiLeaf: Boolean = false): Map[Any, Double] = {
    tables
    val (local, wasLocal) = scores(q)
    val prior = spark.conf.get(Threshold)
    spark.conf.set(Threshold, "-1")
    val (dist, wasDist) =
      try scores(q) finally spark.conf.set(Threshold, prior)
    assert(wasLocal, s"small probe did not take the driver path: $q")
    assert(!wasDist, s"threshold -1 did not force the distributed path: $q")
    assert(local.keySet == dist.keySet, q)
    for ((d, s) <- dist) {
      val l = local(d)
      if (multiLeaf) assert(math.abs(l - s) <= 1e-12 * math.abs(s), s"$q doc $d: $l vs $s")
      else assert(java.lang.Double.doubleToLongBits(l) == java.lang.Double.doubleToLongBits(s),
        s"$q doc $d: $l vs $s")
    }
    local
  }

  private def nl(q: String, cols: String = "text", table: String = "ftl_docs") =
    s"SELECT id, MATCH($cols) AGAINST('$q' IN NATURAL LANGUAGE MODE) AS s FROM $table"
  private def bool(q: String, cols: String = "text", table: String = "ftl_docs") =
    s"SELECT id, MATCH($cols) AGAINST('$q' IN BOOLEAN MODE) AS s FROM $table"

  test("natural mode: 1-3 words, a repeated word, a short (STAR) word") {
    assert(same(nl("spark")).nonEmpty)
    assert(same(nl("spark join")).nonEmpty)
    assert(same(nl("stream spark join")).nonEmpty)
    assert(same(nl("spark spark")).nonEmpty)
    assert(same(nl("io")).nonEmpty)
    assert(same(nl("zzzz")).isEmpty)
  }

  test("boolean mode: must/should/not, phrase, group, rank modifiers, STAR") {
    assert(same(bool("+spark join")).nonEmpty)
    assert(same(bool("+spark -error join")).nonEmpty)
    assert(same(bool("-error")).isEmpty)
    assert(same(bool("\"spark join\"")).nonEmpty)
    assert(same(bool("+(error log) +stream"), multiLeaf = true).nonEmpty)
    val ranked = same(bool(">window <batch ~slow"), multiLeaf = true)
    assert(ranked.values.exists(_ < 0))
    assert(same(bool("str*")).nonEmpty)
    assert(same(bool("+zzzz")).isEmpty)
  }

  test("tfidf, multi-column, json and gojieba parsers") {
    sql("SET ft_relevancy_algorithm = 'TF-IDF'")
    try {
      assert(same(nl("spark join")).nonEmpty)
      assert(same(bool("+spark join")).nonEmpty)
    } finally sql("SET ft_relevancy_algorithm = 'BM25'")
    assert(same(nl("spark notes", cols = "text, source")).nonEmpty)
    assert(same(bool("+join notes", cols = "text, source")).nonEmpty)
    assert(same(nl("red", cols = "j", table = "ftl_json")).keySet == Set(1L, 2L, 3L))
    assert(same(bool("+red -blue", cols = "j", table = "ftl_json")).keySet == Set(1L, 3L))
    assert(same(nl("火花", cols = "t", table = "ftl_zh")).keySet == Set(1L, 3L, 4L))
    assert(same(nl("火花连接", cols = "t", table = "ftl_zh")).keySet == Set(3L, 4L))
    assert(same(bool("+火花 -数据库", cols = "t", table = "ftl_zh")).keySet == Set(1L, 3L))
  }

  test("MATCH statements leave no temp view behind and score the same") {
    // a view per statement would hold its scores for the rest of the session
    assert(same(nl("spark join")).nonEmpty)
    assert(same(bool("+spark -error join")).nonEmpty)
    val union = s"${nl("spark")} UNION ALL ${bool("+window")}"
    def rows() = sql(union).collect().map(_.toString).sorted.toSeq
    val once = rows()
    assert(once.nonEmpty && rows() == once)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(n => Seq("_graft_ft_", "_graft_sql_", "_graft_seq_", "_graft_rcte_")
        .exists(n.startsWith))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("a MATCH on a small index runs at most 3 Spark jobs; its probe is bucket-pruned") {
    tables
    sql(nl("spark")).collect() // the first MATCH on the column builds the postings
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val executions = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(executions)
    val bucketPruned = """PartitionFilters: \[[^\]]*_tb""".r
    try {
      for ((q, exact) <- Seq(nl("stream spark join") -> true,
          bool("+spark -error join") -> true, bool("str*") -> false)) {
        plans.clear()
        val (_, n) = JobCount(spark.sparkContext)(sql(q).collect())
        assert(n >= 1 && n <= 3, s"$n jobs for $q")
        // the postings probe, then the query itself; exact terms read
        // only their own buckets (a STAR prefix reads them all)
        val probes = plans.toArray.map(_.toString).filter(_.contains("/fulltext/"))
        assert(probes.length == 1, probes.mkString("\n"))
        assert(bucketPruned.findFirstIn(probes.head).isDefined == exact, probes.head)
      }
    } finally spark.listenerManager.unregister(executions)
  }

  test("a session sees none of the state of an earlier session of the same JVM") {
    // the suite's shared session cannot be stopped, so the two sessions
    // run in a child JVM
    val wh = java.nio.file.Files.createTempDirectory("ftl-two-sessions")
    val out = ChildJvm.run("graft.TwoSessions", wh.toString)
    val lines = out.filter(_.startsWith("session"))
    val Seq(a, b) = lines.map(_.dropWhile(_ != ' '))
    // each session runs the same script, so every result must repeat
    assert(a == b, lines.mkString("\n"))
    val got = b.trim.split(" \\| ").map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap
    assert(got("knn").nonEmpty && !got("knn").startsWith("error"), b)
    assert(got("fks") == "" && got("v") == "[null]", b)
    assert(got("nextval").contains("no such sequence"), b)
    assert(got("fk_without_key").contains("failed to add the foreign key"), b)
    assert(got("ivf").startsWith("[ts_ivf,") && got("match").nonEmpty, b)
    assert(got("live") == "0", b)
    new scala.reflect.io.Directory(wh.toFile).deleteRecursively()
  }
}

/** The same script in two sequential sessions of one JVM. Session 1
  * leaves behind an IVF index over a parquet corpus, a unique key and a
  * foreign key, a user variable and a sequence; session 2 must see none
  * of it. Prints `sessionN label=value | …` per session, where each value
  * is read BEFORE the script creates it; `live` counts the
  * [[SessionScoped]] values left after `stop()`.
  * Usage: `TwoSessions <warehouse dir>`.
  */
object TwoSessions {
  def main(args: Array[String]): Unit = {
    val corpus = s"${args(0)}/corpus.parquet"
    def once(): String = {
      val spark = GraftSession.builder("local[1]")
        .config("spark.sql.warehouse.dir", args(0)).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      GraftSession.init(spark)
      val res = Seq.newBuilder[String]
      def sql(q: String): String = GraftSql.sql(spark, q).collect().mkString(";")
      def read(label: String, q: String): Unit = res += s"$label=" +
        (try sql(q) catch { case e: Exception => s"error ${e.getMessage}".linesIterator.next() })
      try {
        import spark.implicits._
        if (!new java.io.File(corpus).exists)
          (0 until 40).map(i => (i.toLong, Seq(i % 4, i / 4, 1).map(_.toFloat)))
            .toDF("vec_id", "embedding").write.parquet(corpus)
        spark.read.parquet(corpus).createOrReplaceTempView("ts_emb")
        read("knn", "SELECT vec_id FROM (SELECT * FROM ts_emb " +
          "ORDER BY l2_distance(embedding, '[1,2,1]') LIMIT 3) t ORDER BY vec_id")
        read("ivf", "CREATE INDEX ts_ivf USING IVFFLAT ON ts_emb(embedding) " +
          "lists=2 nprobe=2 op_type \"vector_l2_ops\"")
        read("v", "SELECT @v")
        sql("SET @v = 7")
        read("nextval", "SELECT nextval('ts_seq')")
        sql("CREATE SEQUENCE ts_seq")
        Seq(1, 2).toDF("a").createOrReplaceTempView("ts_parent")
        Seq(1).toDF("p").createOrReplaceTempView("ts_child")
        read("fks", "SELECT constraint_name FROM information_schema.referential_constraints")
        read("fk_without_key", "ALTER TABLE ts_child ADD CONSTRAINT ts_fk " +
          "FOREIGN KEY (p) REFERENCES ts_parent(a)")
        sql("CREATE UNIQUE INDEX ts_uk ON ts_parent (a)")
        sql("ALTER TABLE ts_child ADD CONSTRAINT ts_fk FOREIGN KEY (p) REFERENCES ts_parent(a)")
        Seq((1L, "spark joins fast"), (2L, "flink streams"), (3L, "spark spark streams"))
          .toDF("doc_id", "text").createOrReplaceTempView("two_t")
        read("match", "SELECT doc_id, MATCH(text) AGAINST('spark') AS s FROM two_t " +
          "ORDER BY doc_id")
      } finally spark.stop()
      res += s"live=${SessionScoped.liveValues}"
      res.result().mkString(" | ")
    }
    val first = once()
    println(s"session1 $first")
    println(s"session2 ${once()}")
  }
}
