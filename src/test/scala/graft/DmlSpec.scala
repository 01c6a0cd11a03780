package graft

import graft.sql.GraftSql
import org.scalatest.funsuite.AnyFunSuite

/** The row-changing statements through [[GraftSql.sql]] over managed
  * tables: UPDATE, DELETE (single- and multi-table), REPLACE, INSERT …
  * ON DUPLICATE KEY UPDATE, INSERT IGNORE and the foreign-key ON DELETE
  * actions. Each case checks the table contents after the statement and
  * `row_count()`; the last cases pin how many writes and Spark jobs a
  * statement costs.
  */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def run(q: String) = GraftSql.sql(spark, q)

  /** Every row of `t` as `a,b,…` (NULL as `null`), sorted. */
  private def rows(t: String): Seq[String] =
    run(s"select * from $t").collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString(","))
      .sorted

  private def rowCount(): Long =
    run("select row_count()").head.getAs[Number](0).longValue

  /** Runs `q` and returns `row_count()` after it. */
  private def affected(q: String): Long = { run(q).collect(); rowCount() }

  /** Drops then creates `t` with `cols` and inserts `values`. */
  private def table(t: String, cols: String, values: String*): Unit = {
    run(s"drop table if exists $t")
    run(s"create table $t ($cols)")
    if (values.nonEmpty) run(s"insert into $t values ${values.mkString(", ")}")
  }

  // ------------------------------------------------------------ UPDATE

  test("UPDATE SET a = b, b = a + 1 reads the old values") {
    table("dml_u1", "id int, a int, b int", "(1, 10, 20)", "(2, 30, 40)")
    assert(affected("update dml_u1 set a = b, b = a + 1 where id = 1") == 1)
    assert(rows("dml_u1") == Seq("1,20,11", "2,30,40"))
  }

  test("UPDATE SET c = DEFAULT stores the column default") {
    table("dml_u2", "id int, a int default 222", "(1, 5)", "(2, 6)")
    assert(affected("update dml_u2 set a = default where id = 1") == 1)
    assert(rows("dml_u2") == Seq("1,222", "2,6"))
  }

  test("UPDATE ORDER BY … LIMIT n changes the first n rows of that order") {
    table("dml_u3", "id int, v int", "(1, 4)", "(2, 3)", "(3, 2)", "(4, 1)")
    assert(affected("update dml_u3 set v = v * 10 order by v limit 2") == 2)
    assert(rows("dml_u3") == Seq("1,4", "2,3", "3,20", "4,10"))
    // without ORDER BY the pick follows the order of all columns
    assert(affected("update dml_u3 set v = 0 where v < 10 limit 1") == 1)
    assert(rows("dml_u3") == Seq("1,0", "2,3", "3,20", "4,10"))
  }

  test("UPDATE IGNORE skips a row whose new key collides") {
    table("dml_u4", "id int, s string", "(1, 'a')", "(2, 'b')", "(3, 'c')")
    GraftSql.registerPrimaryKey(spark, "dml_u4", "id")
    assert(affected("update ignore dml_u4 set id = id + 1") == 1)
    assert(rows("dml_u4") == Seq("1,a", "2,b", "4,c"))
  }

  test("UPDATE that matches no row changes nothing") {
    table("dml_u5", "id int, v int", "(1, 1)", "(2, 2)")
    assert(affected("update dml_u5 set v = 9 where id = 99") == 0)
    assert(rows("dml_u5") == Seq("1,1", "2,2"))
  }

  // ------------------------------------------------------------ DELETE

  test("DELETE removes the rows its WHERE matches") {
    table("dml_d1", "id int, v int", "(1, 1)", "(2, 2)", "(3, 3)", "(4, null)")
    assert(affected("delete from dml_d1 where v > 1") == 2)
    assert(rows("dml_d1") == Seq("1,1", "4,null"))
    assert(affected("delete from dml_d1") == 2)
    assert(rows("dml_d1").isEmpty)
  }

  test("DELETE WHERE id IN (SELECT …)") {
    table("dml_d2", "id int, v int", "(1, 1)", "(2, 2)", "(3, 3)")
    table("dml_d2s", "id int, flag int", "(1, 1)", "(3, 1)", "(2, 0)")
    assert(affected(
      "delete from dml_d2 where id in (select id from dml_d2s where flag = 1)") == 2)
    assert(rows("dml_d2") == Seq("2,2"))
  }

  test("WITH cte AS (…) DELETE") {
    table("dml_d3", "id int, v int", "(1, 1)", "(2, 2)", "(3, 3)")
    assert(affected("with gone as (select id from dml_d3 where v >= 2) " +
      "delete from dml_d3 where id in (select id from gone)") == 2)
    assert(rows("dml_d3") == Seq("1,1"))
  }

  test("DELETE LIMIT n with a primary key removes the first n rows") {
    table("dml_d4", "id int, s string", "(3, 'x')", "(1, 'y')", "(2, 'z')")
    GraftSql.registerPrimaryKey(spark, "dml_d4", "id")
    assert(affected("delete from dml_d4 where s <> 'q' limit 2") == 2)
    assert(rows("dml_d4") == Seq("3,x"))
  }

  test("DELETE LIMIT n without a key removes n of the duplicate rows") {
    table("dml_d5", "a int, b int", "(1, 1)", "(1, 1)", "(1, 1)", "(2, 2)")
    assert(affected("delete from dml_d5 where a = 1 limit 2") == 2)
    assert(rows("dml_d5") == Seq("1,1", "2,2"))
    assert(affected("delete from dml_d5 limit 1") == 1)
    assert(rows("dml_d5") == Seq("2,2"))
  }

  test("DELETE that matches no row changes nothing") {
    table("dml_d6", "id int, v int", "(1, 1)", "(2, 2)")
    assert(affected("delete from dml_d6 where id = 99") == 0)
    assert(rows("dml_d6") == Seq("1,1", "2,2"))
  }

  // ------------------------------------------------------- multi-table

  private def twoTables(): Unit = {
    table("dml_ma", "id int, v int", "(1, 1)", "(2, 2)", "(3, 3)")
    table("dml_mb", "id int, w int", "(1, 10)", "(3, 30)", "(4, 40)")
  }

  test("multi-table UPDATE in the comma, JOIN and USING spellings") {
    twoTables()
    assert(affected("update dml_ma a, dml_mb b set a.v = 0, b.w = 100 " +
      "where a.id = b.id") == 0)
    assert(rows("dml_ma") == Seq("1,0", "2,2", "3,0"))
    assert(rows("dml_mb") == Seq("1,100", "3,100", "4,40"))
    assert(affected("update dml_ma join dml_mb on dml_ma.id = dml_mb.id " +
      "set dml_ma.v = dml_ma.v + 5 where dml_mb.id = 1") == 0)
    assert(rows("dml_ma") == Seq("1,5", "2,2", "3,0"))
    assert(affected("update dml_ma join dml_mb using (id) set w = w + 1") == 0)
    assert(rows("dml_mb") == Seq("1,101", "3,101", "4,40"))
  }

  test("multi-table DELETE in the comma, JOIN and USING spellings") {
    twoTables()
    assert(affected("delete a, b from dml_ma a, dml_mb b " +
      "where a.id = b.id and a.id = 1") == 0)
    assert(rows("dml_ma") == Seq("2,2", "3,3"))
    assert(rows("dml_mb") == Seq("3,30", "4,40"))
    assert(affected("delete dml_ma from dml_ma join dml_mb " +
      "on dml_ma.id = dml_mb.id") == 0)
    assert(rows("dml_ma") == Seq("2,2"))
    assert(rows("dml_mb") == Seq("3,30", "4,40"))
    table("dml_ma", "id int, v int", "(3, 3)", "(4, 4)", "(5, 5)")
    assert(affected("delete from dml_mb using dml_mb join dml_ma " +
      "on dml_mb.id = dml_ma.id where dml_ma.v = 4") == 0)
    assert(rows("dml_mb") == Seq("3,30"))
    assert(rows("dml_ma") == Seq("3,3", "4,4", "5,5"))
  }

  // ----------------------------------------------------------- REPLACE

  private def keyed(t: String, values: String*): Unit = {
    table(t, "id int, u string, v int", values: _*)
    GraftSql.registerPrimaryKey(spark, t, "id")
    GraftSql.registerUniqueKey(spark, t, "uk_u", Seq("u"))
  }

  test("REPLACE VALUES: a later batch row replaces an earlier one") {
    keyed("dml_r1", "(1, 'a', 1)", "(2, 'b', 2)")
    assert(affected("replace into dml_r1 values (3, 'c', 3), (4, 'c', 4), (1, 'z', 9)") == 3)
    assert(rows("dml_r1") == Seq("1,z,9", "2,b,2", "4,c,4"))
  }

  test("REPLACE … SET replaces the colliding row") {
    keyed("dml_r2", "(1, 'a', 1)", "(2, 'b', 2)")
    assert(affected("replace into dml_r2 set id = 2, u = 'y'") == 2)
    assert(rows("dml_r2") == Seq("1,a,1", "2,y,null"))
  }

  test("REPLACE into a keyless table appends") {
    table("dml_r3", "id int, v int", "(1, 1)")
    assert(affected("replace into dml_r3 values (1, 1), (2, 2)") == 2)
    assert(rows("dml_r3") == Seq("1,1", "1,1", "2,2"))
  }

  // ------------------------------------------- ON DUPLICATE KEY UPDATE

  test("ON DUPLICATE KEY UPDATE with VALUES(c) over two rounds") {
    table("dml_o1", "id int, v int", "(1, 10)")
    GraftSql.registerPrimaryKey(spark, "dml_o1", "id")
    // round 1: (1,5) updates 1 (2), (2,7) inserts (1);
    // round 2: (1,6) updates 1 (2), (2,8) updates 2 (2)
    assert(affected("insert into dml_o1 values (1, 5), (2, 7), (1, 6), (2, 8) " +
      "on duplicate key update v = v + values(v)") == 7)
    assert(rows("dml_o1") == Seq("1,21", "2,15"))
    assert(affected("insert into dml_o1 values (2, 0), (3, 3) " +
      "on duplicate key update v = values(v)") == 3)
    assert(rows("dml_o1") == Seq("1,21", "2,0", "3,3"))
  }

  test("ON DUPLICATE KEY UPDATE: an unchanged hit counts 0") {
    table("dml_o2", "id int, v int", "(1, 10)")
    GraftSql.registerPrimaryKey(spark, "dml_o2", "id")
    assert(affected("insert into dml_o2 values (1, 99) on duplicate key update v = v") == 0)
    assert(rows("dml_o2") == Seq("1,10"))
  }

  test("ON DUPLICATE KEY UPDATE into a keyless table appends") {
    table("dml_o3", "id int, v int", "(1, 10)")
    assert(affected("insert into dml_o3 values (1, 5) on duplicate key update v = 0") == 0)
    assert(rows("dml_o3") == Seq("1,10", "1,5"))
  }

  // ------------------------------------------------------ INSERT IGNORE

  test("INSERT IGNORE: a rejected row frees its other keys") {
    keyed("dml_i1", "(1, 'a', 1)")
    assert(affected("insert ignore into dml_i1 values (1, 'b', 2), (2, 'b', 3), (3, 'a', 4)") == 1)
    assert(rows("dml_i1") == Seq("1,a,1", "2,b,3"))
  }

  test("INSERT IGNORE into a keyless table appends") {
    table("dml_i2", "id int, v int", "(1, 1)")
    assert(affected("insert ignore into dml_i2 values (1, 1), (2, 2)") == 0)
    assert(rows("dml_i2") == Seq("1,1", "1,1", "2,2"))
  }

  // ------------------------------------------------------- foreign keys

  /** Parent `p` (pk id) with rows 1, 2 and child `c` whose `pid`
    * references it with `action`. */
  private def parentChild(p: String, c: String, action: String): Unit = {
    run(s"drop table if exists $c")
    table(p, "id int, s string", "(1, 'a')", "(2, 'b')")
    GraftSql.registerPrimaryKey(spark, p, "id")
    table(c, "cid int, pid int", "(10, 1)", "(11, 1)", "(12, 2)", "(13, null)")
    run(s"alter table $c add constraint ${c}_fk foreign key (pid) " +
      s"references $p(id) $action")
  }

  private def dropPair(p: String, c: String): Unit = {
    run(s"drop table if exists $c")
    run(s"drop table if exists $p")
  }

  test("FOREIGN KEY ON DELETE CASCADE removes the child rows") {
    parentChild("dml_fp1", "dml_fc1", "on delete cascade")
    assert(affected("delete from dml_fp1 where id = 1") == 1)
    assert(rows("dml_fp1") == Seq("2,b"))
    assert(rows("dml_fc1") == Seq("12,2", "13,null"))
    dropPair("dml_fp1", "dml_fc1")
  }

  test("FOREIGN KEY ON DELETE SET NULL clears the child references") {
    parentChild("dml_fp2", "dml_fc2", "on delete set null")
    assert(affected("delete from dml_fp2 where id = 1") == 1)
    assert(rows("dml_fp2") == Seq("2,b"))
    assert(rows("dml_fc2") == Seq("10,null", "11,null", "12,2", "13,null"))
    dropPair("dml_fp2", "dml_fc2")
  }

  test("self-referencing ON DELETE SET NULL clears the surviving rows' references") {
    table("dml_fs", "id int, mgr int", "(1, null)", "(2, 1)", "(3, 2)", "(4, 2)")
    GraftSql.registerPrimaryKey(spark, "dml_fs", "id")
    run("alter table dml_fs add constraint dml_fs_fk foreign key (mgr) " +
      "references dml_fs(id) on delete set null")
    assert(affected("delete from dml_fs where id = 2") == 1)
    assert(rows("dml_fs") == Seq("1,null", "3,null", "4,null"))
    run("drop table dml_fs")
  }

  test("FOREIGN KEY ON DELETE RESTRICT rejects the delete and changes nothing") {
    parentChild("dml_fp3", "dml_fc3", "on delete restrict")
    val e = intercept[IllegalStateException](run("delete from dml_fp3 where id = 2"))
    assert(e.getMessage.contains("Cannot delete or update a parent row"))
    assert(rows("dml_fp3") == Seq("1,a", "2,b"))
    assert(rows("dml_fc3") == Seq("10,1", "11,1", "12,2", "13,null"))
    dropPair("dml_fp3", "dml_fc3")
  }

  // -------------------------------------------------------------- cost

  private def writes(q: String): Int = WriteCount(spark)(run(q).collect())._2

  test("a statement writes each table it changes once") {
    table("dml_w1", "id int, v int", "(1, 1)", "(2, 2)")
    assert(writes("update dml_w1 set v = 5 where id = 1") == 1)
    assert(writes("delete from dml_w1 where id = 2") == 1)
    twoTables()
    assert(writes("update dml_ma a, dml_mb b set a.v = 0, b.w = 0 where a.id = b.id") == 2)
    assert(writes("delete dml_ma from dml_ma join dml_mb on dml_ma.id = dml_mb.id") == 1)
    keyed("dml_w2", "(1, 'a', 1)")
    assert(writes("replace into dml_w2 values (1, 'b', 2), (2, 'c', 3)") == 1)
    assert(writes("insert ignore into dml_w2 values (1, 'x', 0), (3, 'd', 4)") == 1)
    // two rounds (key 3 repeats), one write
    assert(writes("insert into dml_w2 values (3, 'd', 5), (3, 'd', 6) " +
      "on duplicate key update v = values(v)") == 1)
    assert(rows("dml_w2") == Seq("1,b,2", "2,c,3", "3,d,6"))
    parentChild("dml_fp4", "dml_fc4", "on delete cascade")
    assert(writes("delete from dml_fp4 where id = 2") == 2)
    dropPair("dml_fp4", "dml_fc4")
  }

  test("a statement that changes no row writes nothing") {
    table("dml_w3", "id int, v int", "(1, 1)", "(2, 2)")
    assert(writes("update dml_w3 set v = 9 where id = 99") == 0)
    assert(writes("delete from dml_w3 where id = 99") == 0)
    assert(rows("dml_w3") == Seq("1,1", "2,2"))
  }

  test("a one-row UPDATE and DELETE on a keyless table run a pinned number of jobs") {
    table("dml_j", "id int, v int", (1 to 20).map(i => s"($i, $i)"): _*)
    val sc = spark.sparkContext
    val (_, upd) = JobCount(sc)(run("update dml_j set v = 0 where id = 7").collect())
    val (_, del) = JobCount(sc)(run("delete from dml_j where id = 8").collect())
    info(s"update $upd jobs, delete $del jobs")
    assert(rows("dml_j").size == 19)
    // one checkpoint, one count of the hits off it, one overwrite
    assert(upd == 3 && del == 3, s"update $upd, delete $del")
  }
}
