package graft

import graft.sql.{GraftSql, SqlText}
import org.antlr.v4.runtime.CharStreams
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.scalatest.funsuite.AnyFunSuite

/** [[SqlText]], the one lexer of the SQL text layer: its quoted spans
  * against Spark's own lexer, its structure helpers, the gate that keeps
  * it the only quote scanner, and hand-written statements through
  * [[GraftSql.sql]] whose quoted text the earlier per-pass scanners
  * split, masked or rewrote wrongly.
  */
class SqlTextSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Spark's quoted-token spans of `s`, or None when Spark's lexer does
    * not recognize some of `s`.
    */
  private def sparkSpans(s: String): Option[Seq[(Int, Int)]] = {
    val lexer = new SqlBaseLexer(CharStreams.fromString(s))
    lexer.removeErrorListeners()
    val quoted = Set(SqlBaseLexer.STRING_LITERAL, SqlBaseLexer.DOUBLEQUOTED_STRING,
      SqlBaseLexer.BACKQUOTED_IDENTIFIER)
    val tokens = lexer.getAllTokens.toArray(Array.empty[org.antlr.v4.runtime.Token]).toSeq
    if (tokens.exists(_.getType == SqlBaseLexer.UNRECOGNIZED)) None
    else Some(tokens.filter(t => quoted(t.getType)).map(t => (t.getStartIndex, t.getStopIndex + 1)))
  }

  test("quoted spans equal Spark's lexer tokens on 10,000 generated strings") {
    val alphabet = "a ,()'\"`\\"
    val rnd = new scala.util.Random(20261020L)
    var compared = 0
    var generated = 0
    while (compared < 10000 && generated < 100000) {
      generated += 1
      val s = Seq.fill(1 + rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).mkString
      sparkSpans(s).foreach { want =>
        compared += 1
        assert(SqlText.spans(s).map(sp => (sp.start, sp.end)) == want, s)
      }
    }
    assert(compared == 10000, s"$compared of $generated strings lexed without an UNRECOGNIZED token")
  }

  test("splitTop splits only top-level commas") {
    assert(SqlText.splitTop("a, max(b, c), 'x,y', d as e") ==
      Seq("a", "max(b, c)", "'x,y'", "d as e"))
    assert(SqlText.splitTop("""(5,"a),(b"), `c,d`, 'it\'s,', 'x'',y', e""") ==
      Seq("""(5,"a),(b")""", "`c,d`", """'it\'s,'""", "'x'',y'", "e"))
  }

  test("mask blanks string-literal contents and keeps identifiers") {
    val B = SqlText.Blank
    assert(SqlText.mask("""a 'b\'c' "d""e" `f'g` 'h""") ==
      s"""a '$B$B$B$B' "$B$B$B$B" `f'g` '$B""")
  }

  test("structure helpers skip quoted text of every kind") {
    val s = """f(')', ")", `)`, g(1)) from x"""
    assert(SqlText.closeParen(s, 1) == s.indexOf(" from") - 1)
    assert(SqlText.topIndexOf("""select 'from' "from" `from`, (from) from t""", "from") == 36)
    assert(SqlText.splitTopAt("a union 'union' union all (b union c) `union`", "(?i)union(\\s+all)?".r) ==
      Seq("a ", "union", " 'union' ", "union all", " (b union c) `union`"))
    assert(SqlText.replaceOutside("""x 'x' "x" `x` x""", "x".r, _ => "y") == """y 'x' "x" `x` y""")
    assert(SqlText.replaceOutside("INTERVAL '1' DAY", "(?i)interval\\s+'([^']*)'\\s+day".r,
      m => s"days(${m.group(1)})") == "days(1)")
  }

  test("no quote scanner is defined outside SqlText") {
    val dir = new java.io.File("src/main/scala/graft/sql")
    val scanner = """var \w+: Char = 0|var inStr\b""".r
    val hits = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(scanner.findFirstIn(_).isDefined).map(l => s"${f.getName}: ${l.trim}").toList
      finally src.close()
    }
    assert(hits.forall(_.startsWith("SqlText.scala:")), hits.mkString("\n"))
  }

  private def one(q: String): Seq[Any] = GraftSql.sql(spark, q).collect().head.toSeq
  private def rowCount(): String = one("SELECT row_count()").head.toString

  test("a backslash-escaped quote does not hide the call after it") {
    assert(one("""SELECT 'it\'s' AS a, row_count() AS n""").head == "it's")
  }

  test("row_count() counts the rows of an INSERT whose literals hold quotes and commas") {
    GraftSql.sql(spark, "DROP TABLE IF EXISTS sqltext_t")
    GraftSql.sql(spark, "CREATE TABLE sqltext_t (id INT, s STRING) USING parquet")
    val counts = Seq("""(1,'it\'s'),(2,'x')""", """(5,"a),(b")""").map { rows =>
      GraftSql.sql(spark, s"INSERT INTO sqltext_t VALUES $rows")
      rowCount()
    }
    assert(counts == Seq("2", "1"))
    assert(GraftSql.sql(spark, "SELECT id, s FROM sqltext_t ORDER BY id").collect()
      .map(r => s"${r.get(0)}:${r.get(1)}").toSeq == Seq("1:it's", "2:x", "5:a),(b"))
  }

  test("an ENUM member holding a parenthesis stays one member") {
    GraftSql.sql(spark, "DROP TABLE IF EXISTS sqltext_enum")
    try {
      GraftSql.sql(spark, "CREATE TABLE sqltext_enum (e ENUM('a)b', 'c'), i INT)")
      GraftSql.sql(spark, "INSERT INTO sqltext_enum VALUES ('a)b', 1), ('c', 2)")
      assert(GraftSql.sql(spark, "SELECT e, i FROM sqltext_enum ORDER BY i").collect()
        .map(r => s"${r.get(0)}:${r.get(1)}").toSeq == Seq("a)b:1", "c:2"))
    } finally GraftSql.sql(spark, "DROP TABLE IF EXISTS sqltext_enum")
  }

  test("ANSI_QUOTES leaves a single-quoted literal with an escape alone") {
    GraftSql.sql(spark, "SET sql_mode = 'ANSI_QUOTES'")
    try assert(one("""SELECT 'it\'s "x"'""") == Seq("it's \"x\""))
    finally GraftSql.sql(spark, "SET sql_mode = 'ERROR_FOR_DIVISION_BY_ZERO," +
      "NO_ENGINE_SUBSTITUTION,NO_ZERO_DATE,NO_ZERO_IN_DATE,ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES'")
  }

  test("a call spelled inside a string literal stays data") {
    val wrong = Seq("see result_scan(1)", "parse_jsonl_data(1)", "last_query_id()").flatMap { lit =>
      val got = try one(s"SELECT '$lit' AS s").head.toString
        catch { case e: Exception => s"error: ${e.getMessage.linesIterator.next()}" }
      if (got == lit) None else Some(s"'$lit' -> $got")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("a statement's temp views are gone once it has run") {
    import spark.implicits._
    def views(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    Seq(("2021-01-01 00:00:00", 1), ("2021-01-01 00:30:00", 2))
      .toDF("tss", "v").selectExpr("to_timestamp(tss) AS ts", "v")
      .write.mode("overwrite").saveAsTable("sqltext_ts")
    val leaked = Seq(
      "SELECT count(*) FROM (SELECT _wstart, max(v) AS mx FROM sqltext_ts interval(ts, 1, hour)) w",
      """SELECT * FROM parse_jsonl_data('{"a":1}')""",
      "SELECT table_cnt FROM table_stats('sqltext_ts', 'get')"
    ).flatMap { q =>
      val before = views()
      GraftSql.sql(spark, q).collect()
      (views() -- before).toSeq.map(v => s"$v after $q")
    }
    assert(leaked.isEmpty, leaked.mkString("; "))
  }
}
