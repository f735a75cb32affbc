package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dml

/** Replays the reference engine's OWN acceptance scenario —
  * `/root/reference/tests/unit/test_execution.py::test_execute_simple_query`
  * (create / insert / order-by / delete / update / filters / group-having /
  * cross join / equi-join / explain / index / drop) — through graft's
  * surface, asserting the row-level outcomes the reference's storage
  * would hold at each step. This is the literal "a user of the reference
  * could switch" check: every statement in their test maps to a graft
  * call, and the visible results are identical. */
class ReferenceParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Option[Int], Option[String])] =
    df.collect().map(r => (
      if (r.isNullAt(0)) None else Some(r.getInt(0)),
      if (r.isNullAt(1)) None else Some(r.getString(1)))).toSeq

  test("the reference's test_execute_simple_query scenario runs identically") {
    def reg(name: String, df: DataFrame): DataFrame = { df.createOrReplaceTempView(name); df }

    // create table t1 (a int not null, b text)
    var t1 = reg("t1", Seq.empty[(Int, String)].toDF("a", "b")
      .select(col("a").cast("int"), col("b")))
    // 4 inserts
    t1 = reg("t1", Dml.insert(t1, Seq(1 -> "aaa", 2 -> "bbb", 3 -> null, 4 -> "ccc"), spark))

    // select * from t1 order by a, b / ... b DESC
    assert(rows(spark.sql("SELECT * FROM t1 ORDER BY a, b")) ==
      Seq(Some(1) -> Some("aaa"), Some(2) -> Some("bbb"), Some(3) -> None, Some(4) -> Some("ccc")))
    assert(spark.sql("SELECT * FROM t1 ORDER BY a, b DESC").collect().length == 4)

    // delete from t1 where a = 4; delete from t1
    t1 = reg("t1", Dml.delete(t1, col("a") === 4))
    assert(spark.table("t1").count() == 3)
    t1 = reg("t1", Dml.delete(t1, lit(true)))
    assert(spark.table("t1").count() == 0)

    // re-insert, then update t1 set a = 5 where b = 'ccc'
    t1 = reg("t1", Dml.insert(t1, Seq(1 -> "aaa", 2 -> "bbb", 3 -> null, 4 -> "ccc"), spark))
    t1 = reg("t1", Dml.update(t1, col("b") === "ccc", Map("a" -> lit(5))))
    // two more inserts of (4, 'ccc')
    t1 = reg("t1", Dml.insert(t1, Seq(4 -> "ccc", 4 -> "ccc"), spark))

    // select * from t1
    assert(rows(spark.sql("SELECT * FROM t1 ORDER BY a, b")).map(_._1.get) ==
      Seq(1, 2, 3, 4, 4, 5))
    // where a = 1 / a > 2 / select b where a > 2
    assert(rows(spark.sql("SELECT * FROM t1 WHERE a = 1")) == Seq(Some(1) -> Some("aaa")))
    assert(spark.sql("SELECT * FROM t1 WHERE a > 2").count() == 4)
    assert(spark.sql("SELECT b FROM t1 WHERE a > 2").collect()
      .map(r => Option(r.getString(0))).sortBy(_.getOrElse("")).toSeq ==
      Seq(None, Some("ccc"), Some("ccc"), Some("ccc")))
    // group by / having
    assert(spark.sql("SELECT a, count(a) AS c FROM t1 WHERE a > 2 GROUP BY a ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq(3 -> 1L, 4 -> 2L, 5 -> 1L))
    assert(spark.sql(
      "SELECT a, count(a) AS c FROM t1 WHERE a > 2 GROUP BY a HAVING a > 3 ORDER BY a")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq(4 -> 2L, 5 -> 1L))

    // create table t2 (a int, city text) + inserts
    var t2 = reg("t2", Seq(1 -> "beijing", 2 -> "shanghai", 3 -> "guangdong", 4 -> "shenzhen")
      .toDF("a", "city").select(col("a").cast("int"), col("city")))

    // implicit cross join: select t1.a, t2.city from t1, t2
    assert(spark.sql("SELECT t1.a, t2.city FROM t1, t2").count() == 6 * 4)

    // explain select ... (the reference's EXPLAIN surface)
    val plan = Explain.plan(spark.sql(
      "SELECT t1.a, city FROM t1, t2 WHERE t1.a = t2.a"))
    assert(plan.count() > 0)

    // equi-join through the comma syntax: a values {1,2,3,4,4,5} meet
    // t2 keys {1,2,3,4} -> 5 rows (4 matches twice, 5 drops out)
    assert(spark.sql("SELECT t1.a, t2.city FROM t1, t2 WHERE t1.a = t2.a ORDER BY a, city")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(1 -> "beijing", 2 -> "shanghai", 3 -> "guangdong",
          4 -> "shenzhen", 4 -> "shenzhen"))

    // create index idx1 on t1 (a): on columnar storage the "index" is
    // write-time layout; the statement maps to the documented recipe.
    assert(Ddl.indexHint(Seq("a")).contains("sortWithinPartitions"))
    assert(spark.sql("SELECT a FROM t1").count() == 6)

    // drop index idx1 / drop table t1 / drop table t2
    // (DROP VIEW without IF EXISTS fails on a missing view.)
    graft.sql(spark, "DROP VIEW t1")
    graft.sql(spark, "DROP VIEW t2")
    assert(intercept[Exception](spark.sql("SELECT * FROM t1").collect()) != null)
  }

  test("the reference's test_abort_transaction scenario runs identically") {
    // tests/unit/test_execution.py:64 — the reference BEGINs a
    // transaction, physically inserts rows, observes them within the
    // transaction, ABORTs, and asserts the table reads back unchanged
    // (and again after checkpoint); then the same for an UPDATE. Graft's
    // seat for those visibility semantics is the versioned-manifest
    // layer (graft.sources.Versioned — protocol details in
    // VersionedSpec); this test replays the reference scenario's
    // statement sequence and asserts the same visible rows at each step.
    import graft.sources.Versioned
    val path = java.nio.file.Files.createTempDirectory("graft-parity-xact").toString + "/t1"

    // create table t1 (a int not null, b text) + 4 committed inserts
    val oldRows = Seq((1, "a1"), (2, "b2"), (3, null), (4, "c4"))
    Versioned.create(spark, path, oldRows.toDF("a", "b"))
    def readAll(): Seq[(Int, Option[String])] = Versioned.read(spark, path)
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSeq.sortBy(_._1)
    val expectOld = oldRows.map { case (a, b) => (a, Option(b)) }.sortBy(_._1)
    assert(readAll() == expectOld)

    // begin; insert (1,'hello'),(2,'world'); [reference sees them via its
    // own xid]; abort → reads unchanged; checkpoint → still unchanged.
    val ins = Versioned.begin(spark, path)
    Versioned.stage(ins, Seq((1, "hello"), (2, "world")).toDF("a", "b"))
    // The transaction's own view = committed ∪ its stage (the analog of
    // the reference reading its inserted tuples under its own xid):
    val inTxn = Versioned.read(spark, path).union(spark.read.parquet(ins.stagingDir))
    assert(inTxn.count() == 6)
    Versioned.abort(spark, ins)
    assert(readAll() == expectOld)
    Versioned.vacuum(spark, path, minAgeMs = 0) // checkpoint analog: durable state settles
    assert(readAll() == expectOld)

    // begin; update t1 set b = 'hello' where a = 1; abort → unchanged.
    val upd = Versioned.begin(spark, path)
    Versioned.stage(upd, Versioned.read(spark, path)
      .selectExpr("a", "CASE WHEN a = 1 THEN 'hello' ELSE b END AS b"))
    assert(spark.read.parquet(upd.stagingDir).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq.sortBy(_._1) ==
      Seq((1, Some("hello")), (2, Some("b2")), (3, None), (4, Some("c4"))))
    Versioned.abort(spark, upd)
    assert(readAll() == expectOld)
  }

  test("every statement the reference's parser tests accept is accepted here") {
    // tests/unit/test_sql_parser.py::{test_dql,test_dml,test_ddl,
    // test_checkpoint} — the reference's statement-surface inventory.
    // Its own test only asserts the AST shape; the parity claim here is
    // the same acceptance level (graft's front door parses every
    // string) PLUS execution for the command forms the other replay
    // doesn't reach (CREATE INDEX with/without USING incl. the
    // btree/lsmtree types, DROP INDEX, CHECKPOINT).
    val parsed = Seq(
      // test_dql (parser.py:14-72) — incl. the FROM-less projection and
      // the implicit comma join, both parse-level constructs there.
      "select * from t1",
      "select a, b from t1",
      "select distinct a, b from t1",
      "select a, b from t1, t2",
      "select a, b from t1 where t1.a > 100",
      "select a, b from t1 left join t2 on t1.a = t2.b",
      "select a, b from t1 where a > 100 and b < 100 limit 10",
      "select count(1) from t1 where a is null",
      "select a, b from t1 order by a, b desc",
      "select a, b from t1, t2 where t1.a = t2.b",
      "select a, b",
      "select count(a), a from t1 group by a having a > 100",
      // test_dml (parser.py:80-96)
      "update t1 set a = 1 where b > 100",
      "insert into t1 values (1, 2), (3, 4), (5, 6)",
      "insert into t1 values (1)",
      "insert into t1(a, b) values (1, 2), (3, 4), (5, 6)",
      "insert into t1(a, b) select a, b from t1",
      "delete from t1 where a > 100",
      // test_ddl (parser.py:99-110) — table forms; index forms below
      // go through the front door for real.
      "CREATE TABLE t1 (a int, b int)",
      "DROP TABLE t1")
    for (stmt <- parsed)
      assert(spark.sessionState.sqlParser.parsePlan(stmt) != null,
        s"parser rejected reference statement: $stmt")
    // Index/command forms: execute through graft.sql. The ANN methods
    // are exercised in DdlSpec; the reference's btree/lsmtree types and
    // the default (no USING) must return the sort-layout recipe rather
    // than erroring or silently dropping the statement.
    for (stmt <- Seq(
        "CREATE index idx_rp on t1x (a)",
        "CREATE index idx_rp on t1x (a) using btree",
        "CREATE index idx_rp on t1x (a) using lsmtree")) {
      val out = GraftSql.run(spark, stmt).collect()
      assert(out.length == 1 && out.head.getString(3).nonEmpty, stmt)
    }
    // The btree-class forms above return the layout recipe WITHOUT
    // registering anything, so this drop must report dropped=false —
    // asserting the column, not just the row, keeps the check
    // non-vacuous (dropped=true after a real ANN registration is
    // DdlSpec-owned). A double-USING statement is malformed in both
    // grammars and must be rejected, not silently resolved.
    assert(GraftSql.run(spark, "DROP INDEX idx_rp").collect()
      .head.getBoolean(1) == false)
    assert(intercept[IllegalArgumentException](
      GraftSql.run(spark, "CREATE INDEX i2 ON t1x USING ivf (a) USING lsh"))
      .getMessage.contains("two USING"))
    // CHECKPOINT (parser.py:113): a Command in the reference; the front
    // door maps it to the documented durability analog.
    assert(GraftSql.run(spark, "CHECKPOINT").collect().head.getString(1) == "ok")
  }
}
