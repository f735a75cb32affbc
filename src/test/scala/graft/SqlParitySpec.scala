package graft

import org.scalatest.funsuite.AnyFunSuite

/** A reference user's other interface is plain SQL. This spec proves the
  * SQL path end-to-end: register the tables, run the reference-class
  * flagship as a SQL string, and call the injected graft functions from
  * SQL — all on the same session the DataFrame surface uses. */
class SqlParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("flagship TPC-H Q1 via spark.sql matches the DataFrame plan") {
    Ddl.registerAll(spark, TestSpark.sf)
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= timestamp'1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(sql.nonEmpty)
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, TestSpark.sf)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(sql.toSeq == df.toSeq)
  }

  test("every relational query's SQL text matches its DataFrame plan") {
    Ddl.registerAll(spark, TestSpark.sf)
    val byName = graft.operators.Relational.defs.map(d => d._1 -> d._2).toMap
    // Every relational entry must have a SQL form, and vice versa.
    assert(graft.operators.RelationalSql.sql.keySet == byName.keySet)
    for ((name, _) <- graft.operators.RelationalSql.sql.toSeq.sortBy(_._1)) {
      val df = byName(name)(spark, TestSpark.sf)
      // Build (and for q81 EXECUTE, so the sketch export exists before
      // sqlFor's precondition check) the DataFrame form first.
      if (name == "q81_approx_quantiles") df.count()
      val viaSql = spark.sql(graft.operators.RelationalSql.sqlFor(name))
      assert(viaSql.columns.toSeq == df.columns.toSeq,
        s"$name columns: sql=${viaSql.columns.toSeq} df=${df.columns.toSeq}")
      val a = viaSql.collect().map(_.toString).sorted.toSeq
      val b = df.collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name rows differ: sql=${a.length} df=${b.length} " +
        s"firstDiff=${a.zip(b).find(p => p._1 != p._2)}")
    }
  }

  test("BoundSql binds a query to its data directory, not to the registered views") {
    import graft.operators.RelationalSql
    import org.apache.spark.sql.graft.BoundSql
    val small = TestSpark.sf
    val large = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    val name = "q25_tpch_q1"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def views() = spark.catalog.listTables().collect()
      .map(t => (t.name, t.database, t.tableType, t.isTemporary)).toSet
    Ddl.registerAll(spark, small)
    val smallRows = rows(spark.sql(RelationalSql.sql(name)))
    try {
      Ddl.registerAll(spark, large)
      val largeRows = rows(spark.sql(RelationalSql.sql(name)))
      assert(smallRows != largeRows)
      val before = views()
      assert(rows(BoundSql(spark, small, name)) == smallRows)
      assert(rows(BoundSql(spark, large, name)) == largeRows)
      assert(views() == before)
    } finally Ddl.registerAll(spark, small)
  }

  test("no SQL override repeats its oracle text") {
    // A query whose oracle text Spark runs as-is has no override: its SQL
    // text IS the oracle text, so the two cannot drift apart.
    import graft.operators.{Relational, RelationalSql}
    def norm(s: String) = s.trim.split("\\s+").mkString(" ")
    val oracle = Relational.defs.collect { case (n, _, Some(o)) => n -> norm(o) }.toMap
    val repeats = RelationalSql.overrides.collect {
      case (n, t) if oracle.get(n).contains(norm(t)) => n
    }
    assert(repeats.isEmpty, s"overrides equal to their oracle text: ${repeats.toSeq.sorted}")
  }

  test("parameterized statements bind by value and match the literal form") {
    // The reference's PARAMETER placeholder surface (lexer.py:35) on
    // Spark 4's parameterized sql: same text, different args, no string
    // splicing — and under the default bindings each text reproduces the
    // literal query exactly.
    Ddl.registerAll(spark, TestSpark.sf)
    import graft.operators.RelationalSql
    for (name <- RelationalSql.parameterized.keys) {
      val text = RelationalSql.parameterized(name)
      assert(text.contains(":"), s"$name: no parameter markers in text")
      assert(!text.matches("(?s).*\\b\\d{2,}.*"),
        s"$name: parameterized text still contains a multi-digit literal")
      val bound = RelationalSql.bind(spark, name, RelationalSql.defaultArgs(name))
        .collect().map(_.toString).sorted.toSeq
      val literal = spark.sql(RelationalSql.sql(name))
        .collect().map(_.toString).sorted.toSeq
      assert(bound == literal, s"$name: bound=${bound.length} literal=${literal.length}")
    }
    // Rebinding the same text with different values reuses the statement:
    // no re-edit of SQL, different result.
    val tight = RelationalSql.bind(spark, "q05_sort_limit",
      Map("lim" -> 5, "off" -> 0)).collect()
    assert(tight.length == 5)
  }

  test("injected text-hash kernels are callable from SQL") {
    val r = spark.sql(
      """SELECT size(graft_shingles('a b c d')) AS n_grams,
        |       size(graft_minhash('a b c d')) AS n_hashes,
        |       graft_simhash('a b c d') = graft_simhash('a b c d') AS stable,
        |       size(graft_shingles('a b c d e', 5)) AS n_5grams,
        |       size(graft_minhash('a b c d', 2, 16)) AS n_hashes_16
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 2)   // "a b c", "b c d"
    assert(r.getInt(1) == 32)
    assert(r.getBoolean(2))
    assert(r.getInt(3) == 1)   // exactly one 5-gram in 5 words
    assert(r.getInt(4) == 16)
    val q = spark.sql(
      """SELECT graft_quality('The Quick fox, the fox!', array('the', 'a')) AS f"""
    ).select("f.norm_text", "f.n_words", "f.n_distinct", "f.n_stop").collect().head
    assert(q.getString(0) == "the quick fox the fox")
    assert(q.getLong(1) == 5L)
    assert(q.getLong(2) == 3L)
    assert(q.getLong(3) == 2L)
  }

  test("pipeline operators are expressible in pure SQL with the kernels") {
    Ddl.registerAll(spark, TestSpark.sf)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // d01 exact dedup, SQL text vs the registered operator.
    val d01Sql = spark.sql(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(text) AS content_hash, count(*) AS n_copies,
        |       min(doc_id) AS keeper_id
        |FROM corpus GROUP BY md5(text) HAVING count(*) > 1""".stripMargin)
    assert(sortedRows(d01Sql) ==
      sortedRows(SparkEntry.queries("d01_dedup_exact")(spark, TestSpark.sf)))
    // d08 contamination on 5-gram kernel hashes, SQL text vs the operator.
    val d08Sql = spark.sql(
      """WITH g AS (SELECT doc_id, explode(graft_shingles(text, 5)) AS h FROM documents),
        |bench0 AS (SELECT DISTINCT h FROM g WHERE doc_id < 5),
        |bench AS (SELECT g.h FROM g JOIN bench0 ON g.h = bench0.h
        |          GROUP BY g.h HAVING count(*) <= 1000)
        |SELECT g.doc_id, count(DISTINCT g.h) AS n_shared_grams
        |FROM g JOIN bench ON g.h = bench.h
        |WHERE g.doc_id >= 5 GROUP BY g.doc_id""".stripMargin)
    assert(sortedRows(d08Sql) ==
      sortedRows(SparkEntry.queries("d08_contamination")(spark, TestSpark.sf)))
  }
}
