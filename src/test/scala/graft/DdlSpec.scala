package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DDL surface: ALTER analogs are catalog-only projection changes over
  * the same parquet scan; ANALYZE feeds Spark's cost model real stats. */
class DdlSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("alter rename/add/drop column re-register the same scan") {
    Ddl.createTable(spark, "nation", TestSpark.sf)
    val renamed = Ddl.alterRenameColumn(spark, "nation", "n_name", "nation_name")
    assert(renamed.columns.contains("nation_name") && !renamed.columns.contains("n_name"))
    // The view under the original name reflects the rename.
    assert(spark.table("nation").columns.contains("nation_name"))

    val added = Ddl.alterAddColumn(spark, "nation", "key_sq",
      col("n_nationkey") * col("n_nationkey"))
    assert(added.columns.contains("key_sq"))
    val r = spark.sql("SELECT key_sq FROM nation WHERE n_nationkey = 3").collect().head
    assert(r.getAs[Number](0).longValue == 9L)

    val dropped = Ddl.alterDropColumn(spark, "nation", "key_sq")
    assert(!dropped.columns.contains("key_sq"))
    // Restore the canonical registration for other specs.
    Ddl.createTable(spark, "nation", TestSpark.sf)
  }

  test("create/use/drop database scope unqualified table names") {
    def count(table: String) =
      graft.sql(spark, s"SELECT count(*) FROM $table").head().getLong(0)
    graft.sql(spark, "DROP DATABASE IF EXISTS graft_db CASCADE")
    graft.sql(spark, "CREATE DATABASE graft_db")
    val prev = spark.catalog.currentDatabase
    try {
      graft.sql(spark, "USE graft_db")
      assert(spark.catalog.currentDatabase == "graft_db")
      // A table created while USE graft_db is active lands in — and
      // resolves unqualified from — that namespace.
      graft.sql(spark,
        s"CREATE TABLE marker USING parquet LOCATION '${TestSpark.sf}/nation.parquet'")
      assert(count("marker") == 25)
      assert(count("graft_db.marker") == 25)
      graft.sql(spark, s"USE `$prev`")
      // Unqualified resolution no longer sees it; qualified still does.
      assert(intercept[Exception](count("marker")) != null)
      assert(count("graft_db.marker") == 25)
    } finally {
      spark.catalog.setCurrentDatabase(prev)
      graft.sql(spark, "DROP DATABASE IF EXISTS graft_db CASCADE")
      assert(!spark.catalog.databaseExists("graft_db"))
    }
  }

  test("hostile column names cannot break out of analyzeTable's statement") {
    // analyzeTable splices column names into ANALYZE ... FOR COLUMNS. A
    // raw splice of this name would end the identifier and parse the
    // rest as SQL; the quoted form keeps the whole string one
    // identifier, which the catalog rejects as an unknown column. The
    // sibling database must survive either way.
    graft.sql(spark, "CREATE DATABASE IF NOT EXISTS graft_sibling")
    val hostile = "n_name`; DROP DATABASE graft_sibling CASCADE; --"
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Ddl.analyzeTable(spark, "nation", TestSpark.sf, cols = Seq(hostile)))
      assert(!e.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException],
        s"broke out of the statement: ${e.getMessage}")
      assert(spark.catalog.databaseExists("graft_sibling"),
        "hostile name executed a DROP on a different database")
    } finally {
      graft.sql(spark, "DROP DATABASE IF EXISTS graft_sibling CASCADE")
      spark.sql("DROP TABLE IF EXISTS nation_analyzed")
    }
  }

  test("graft.sql runs every command and re-plans the queries a command changes") {
    // A cached command would run once, and a query plan cached across a
    // command would read what the command replaced.
    def one(text: String) = graft.sql(spark, text).head()
    val tmp = java.nio.file.Files.createTempDirectory("graft-pc").toString
    val home = spark.catalog.currentDatabase
    try {
      graft.sql(spark, s"CREATE TABLE pc_t (a INT) USING parquet LOCATION '$tmp/pc_t'")
      graft.sql(spark, "INSERT INTO pc_t VALUES (1)")
      assert(one("SELECT count(*) FROM pc_t").getLong(0) == 1)
      graft.sql(spark, "INSERT INTO pc_t VALUES (1)")
      assert(one("SELECT count(*) FROM pc_t").getLong(0) == 2)

      graft.sql(spark, "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT 1 AS x")
      assert(one("SELECT x FROM pc_v").getInt(0) == 1)
      graft.sql(spark, "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT 2 AS x")
      assert(one("SELECT x FROM pc_v").getInt(0) == 2)
      graft.sql(spark, "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT :x AS x", Map("x" -> 4))
      assert(one("SELECT x FROM pc_v").getInt(0) == 4)

      graft.sql(spark, "DROP VIEW IF EXISTS pc_v")
      graft.sql(spark, "CREATE OR REPLACE TEMP VIEW pc_v AS SELECT 3 AS x")
      graft.sql(spark, "DROP VIEW IF EXISTS pc_v")
      assert(!spark.catalog.tableExists("pc_v"))

      graft.sql(spark, "CREATE DATABASE IF NOT EXISTS pc_db")
      graft.sql(spark, "USE pc_db")
      graft.sql(spark, s"USE `$home`")
      graft.sql(spark, "USE pc_db")
      assert(spark.catalog.currentDatabase == "pc_db")
    } finally {
      spark.catalog.setCurrentDatabase(home)
      spark.sql("DROP TABLE IF EXISTS pc_t")
      spark.sql("DROP VIEW IF EXISTS pc_v")
      spark.sql("DROP DATABASE IF EXISTS pc_db CASCADE")
    }
  }

  test("Ddl's view re-registration drops cached statement plans, not path plans") {
    Ddl.createTable(spark, "nation", TestSpark.sf)
    val text = "SELECT * FROM nation"
    val before = graft.sql(spark, text)
    val path = Tables.nation(spark, TestSpark.sf)
    Ddl.alterDropColumn(spark, "nation", "n_regionkey")
    val after = graft.sql(spark, text)
    assert(before.columns.contains("n_regionkey") && !after.columns.contains("n_regionkey"))
    assert(Tables.nation(spark, TestSpark.sf) eq path)
    Ddl.createTable(spark, "nation", TestSpark.sf)
    assert(graft.sql(spark, text).columns.contains("n_regionkey"))
  }

  test("plan cache returns the identical plan object on repeat statements") {
    Ddl.createTable(spark, "nation", TestSpark.sf)
    val pc = new PlanCache(maxEntries = 2)
    val text = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    val first = pc.sql(spark, text)
    val second = pc.sql(spark, text)
    // Same object ⇒ parse/analyze/optimize ran once for the two calls.
    assert(first eq second)
    assert(pc.hits == 1 && pc.misses == 1)
    assert(second.collect().length == 5)
    // LRU bound: two more distinct texts evict the eldest.
    pc.sql(spark, "SELECT 1 AS a")
    pc.sql(spark, "SELECT 2 AS a")
    assert(pc.size == 2)
    assert(!(pc.sql(spark, text) eq first), "evicted entry must rebuild")
  }

  test("analyzeTable computes real row counts for the cost model") {
    val (size, rowCount) = Ddl.analyzeTable(spark, "nation", TestSpark.sf,
      cols = Seq("n_nationkey", "n_regionkey"))
    assert(size > 0)
    val expected = Tables.nation(spark, TestSpark.sf).count()
    assert(rowCount.contains(BigInt(expected)), s"rowCount=$rowCount expected=$expected")
    spark.sql("DROP TABLE IF EXISTS nation_analyzed")
  }

  test("CBO + ANALYZE stats reorder a badly-ordered multijoin into the selective-first tree") {
    // The reference's cost-model join planning
    // (andb/sql/optimizer/implementations.py) made visible on Spark: a
    // q24-twin written in a DELIBERATELY bad syntactic order — lineitem
    // first, the selective region filter last. Rule-based ReorderJoin
    // (always on) only makes conditions applicable; it keeps the bad
    // seed order. With cbo+joinReorder and ANALYZE row/column stats the
    // optimizer rebuilds the join tree selective-first: (region('ASIA')
    // ⋈ nation) at the bottom, the lineitem fact joined LAST — q24's
    // hand-written shape, derived from statistics instead of hints.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val tables = Seq("customer", "orders", "lineitem", "nation", "region")
    for (t <- tables) graft.Ddl.analyzeTable(spark, t, TestSpark.sf)
    spark.sql("ANALYZE TABLE customer_analyzed COMPUTE STATISTICS FOR COLUMNS c_custkey, c_nationkey")
    spark.sql("ANALYZE TABLE orders_analyzed COMPUTE STATISTICS FOR COLUMNS o_custkey, o_orderkey")
    spark.sql("ANALYZE TABLE lineitem_analyzed COMPUTE STATISTICS FOR COLUMNS l_orderkey")
    spark.sql("ANALYZE TABLE nation_analyzed COMPUTE STATISTICS FOR COLUMNS n_nationkey, n_regionkey, n_name")
    spark.sql("ANALYZE TABLE region_analyzed COMPUTE STATISTICS FOR COLUMNS r_regionkey, r_name")
    val bad = """
      SELECT n_name, count(*) AS cnt
      FROM lineitem_analyzed l
      JOIN region_analyzed r ON r.r_name = 'ASIA'
      JOIN nation_analyzed n ON n.n_regionkey = r.r_regionkey
      JOIN customer_analyzed c ON c.c_nationkey = n.n_nationkey
      JOIN orders_analyzed o ON o.o_custkey = c.c_custkey AND l.l_orderkey = o.o_orderkey
      GROUP BY n_name"""
    def optimized(cbo: Boolean): LogicalPlan = {
      val sess = spark.newSession()
      sess.conf.set("spark.sql.cbo.enabled", cbo.toString)
      sess.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
      sess.sql(bad).queryExecution.optimizedPlan
    }
    def innermostJoin(p: LogicalPlan): Join = p.collect { case j: Join => j }
      .find(j => j.children.forall(_.collect { case x: Join => x }.isEmpty))
      .getOrElse(fail("no leaf-level join"))
    // Without CBO the seed order survives: the first join executed is
    // lineitem ⋈ orders (fact-first — correct results, terrible plan).
    val offInner = innermostJoin(optimized(cbo = false)).treeString
    assert(offInner.contains("lineitem_analyzed"), offInner.take(400))
    // With CBO + stats the tree is rebuilt: dims first, fact last.
    val onPlan = optimized(cbo = true)
    val onInner = innermostJoin(onPlan).treeString
    assert(onInner.contains("nation_analyzed") && onInner.contains("region_analyzed")
        && !onInner.contains("lineitem_analyzed"),
      s"CBO should seed from the selective dims:\n${onInner.take(400)}")
    val topJoin = onPlan.collect { case j: Join => j }.head
    assert(topJoin.children.exists { c =>
        val s = c.treeString
        s.contains("lineitem_analyzed") && !s.contains("Join")
      }, s"lineitem must be joined last under CBO:\n${topJoin.treeString.take(600)}")
    // Reordering changed the plan, never the answer.
    val expected = spark.newSession().sql(bad).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val sessOn = spark.newSession()
    sessOn.conf.set("spark.sql.cbo.enabled", "true")
    sessOn.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val got = sessOn.sql(bad).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}_analyzed"))
  }

  test("analyzed stats reach the optimizer's plan estimates under CBO") {
    Ddl.analyzeTable(spark, "nation", TestSpark.sf)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      // With CBO on, the logical plan's cardinality estimate is the
      // ANALYZE row count — the input join reorder and broadcast
      // decisions key off — not a file-size guess.
      val stats = spark.table("nation_analyzed").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)), s"stats=$stats")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS nation_analyzed")
    }
  }

  test("CREATE INDEX USING ivf|lsh builds AnnIndex layouts that serve pruned probes") {
    // The reference's one remaining end-to-end index story
    // (parser_.py:554 `using <type>` → CreateIndexOperator → IndexScan):
    // DDL in, pruned probe out, on executed plans.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddl-idx").toString
    val e = Tables.embeddings(spark, TestSpark.sf)
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    // CREATE INDEX emb_ivf ON embeddings USING ivf (embedding)
    val ivf = Ddl.createIndex(spark, "emb_ivf", e, "ivf", s"$tmp/ivf", k = 16)
    assert(Ddl.describeIndex("emb_ivf").exists(_.using == "ivf"))
    val probe = Ddl.probeIndex(spark, "emb_ivf", qv, k = 10, nProbe = 4)
    val plan = probe.queryExecution.executedPlan.treeString
    assert(plan.contains("PartitionFilters: [cell"),
      "IVF probe not directory-pruned: " + plan.take(500))
    assert(ivf.isInstanceOf[Ddl.IvfIndexDef])
    val got = probe.collect().map(_.getLong(0))
    // The query vector is vector 0's own embedding and its cell is always
    // probed first — its exact self-match (cos = 1) must rank top-1.
    assert(got.length == 10 && got.head == 0L, got.mkString(","))

    // CREATE INDEX emb_lsh ON embeddings USING lsh (embedding)
    Ddl.createIndex(spark, "emb_lsh", e, "lsh", location = "", bandBits = 8, nBands = 8)
    val lshProbe = Ddl.probeIndex(spark, "emb_lsh", qv, k = 10)
    // The query vector itself is its own nearest neighbor in every band.
    assert(lshProbe.collect().map(_.getLong(0)).contains(0L))
    val (read, all) = TestSpark.bucketsRead(lshProbe, "emb_lsh_bands")
    assert(read > 0 && read < all, s"LSH probe not bucket-pruned: read $read of $all buckets")

    // CREATE INDEX emb_pq ON embeddings USING ivfpq — the composed
    // layout: pruned directories, codes-only ADC, exact re-rank.
    Ddl.createIndex(spark, "emb_pq", e, "ivfpq", s"$tmp/ivfpq", k = 16)
    val pqProbe = Ddl.probeIndex(spark, "emb_pq", qv, k = 10, nProbe = 6)
    val pqPlan = pqProbe.queryExecution.executedPlan.treeString
    assert(pqPlan.contains("PartitionFilters: [cell"),
      "IVF+PQ probe not directory-pruned: " + pqPlan.take(600))
    assert(pqProbe.collect().map(_.getLong(0)).head == 0L)

    // DROP INDEX deregisters; further probes fail loud.
    assert(Ddl.dropIndex("emb_ivf") && Ddl.dropIndex("emb_lsh") && Ddl.dropIndex("emb_pq"))
    intercept[IllegalArgumentException] { Ddl.probeIndex(spark, "emb_ivf", qv, 5) }
    Seq("emb_lsh_bands", "emb_lsh_vectors").foreach(Ddl.dropManagedTable(spark, _))
  }

  test("index probes run no footer or prologue job and compile no class for a new query vector") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddl-probe").toString
    val e = Tables.embeddings(spark, TestSpark.sf)
    val vs = e.filter(col("vec_id") < 3).orderBy(col("vec_id")).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    Ddl.createIndex(spark, "probe_ivf", e, "ivf", s"$tmp/ivf", k = 16)
    Ddl.createIndex(spark, "probe_lsh", e, "lsh", location = "", bandBits = 8, nBands = 8)
    def compilations: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      for ((name, jobsPerProbe) <- Seq("probe_ivf" -> 1, "probe_lsh" -> 2)) {
        def probe(v: Array[Float]) = org.apache.spark.graft.JobCounter(spark.sparkContext)(
          Ddl.probeIndex(spark, name, v, k = 10).collect().map(_.getLong(0)))
        val (first, jobs) = probe(vs(0))
        assert(first.head == 0L)
        // IVF: the layout reads with its recorded schema (no footer job);
        // LSH: the query's band keys are evaluated on the driver (no
        // 1-row job), beside the broadcast of the candidates.
        assert(jobs == jobsPerProbe, s"$name ran $jobs jobs")
        probe(vs(1))
        val c0 = compilations
        val (third, _) = probe(vs(2))
        assert(third.head == 2L)
        assert(compilations == c0, s"$name compiled ${compilations - c0} classes for a new vector")
      }
    } finally {
      Ddl.dropIndex("probe_ivf"); Ddl.dropIndex("probe_lsh")
      Seq("probe_lsh_bands", "probe_lsh_vectors").foreach(Ddl.dropManagedTable(spark, _))
    }
  }

  test("graft.sql front door: index DDL, pruned probe, EXPLAIN and CHECKPOINT from statement text alone") {
    // The reference's interaction shape — everything is SQL text through
    // one entry point — end to end: CREATE INDEX ... USING ivf builds
    // the layout, PROBE INDEX serves a pruned IndexScan, EXPLAIN works
    // on the extended statement, all without touching the Scala API.
    val tmp = java.nio.file.Files.createTempDirectory("graft-sqlfd").toString
    Tables.embeddings(spark, TestSpark.sf).createOrReplaceTempView("emb_sqlfd")
    val qv = Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") === 7).select(col("embedding"))
      .head().getSeq[Float](0).toArray

    val created = graft.sql(spark,
      s"CREATE INDEX sqlfd_idx ON emb_sqlfd USING ivf (embedding) LOCATION '$tmp/ivf'")
    assert(created.collect().head.getString(2) == "ivf")
    assert(Ddl.describeIndex("sqlfd_idx").exists(_.using == "ivf"))

    val probe = graft.sql(spark,
      s"PROBE INDEX sqlfd_idx FOR (${qv.mkString(", ")}) LIMIT 10")
    val plan = probe.queryExecution.executedPlan.treeString
    assert(plan.contains("PartitionFilters: [cell"),
      "text-driven probe not directory-pruned: " + plan.take(500))
    assert(probe.collect().head.getLong(0) == 7L,
      "query vector's own embedding must rank top-1")

    // EXPLAIN routes recursively — it can explain the PROBE statement
    // Spark's own parser would reject.
    val ex = graft.sql(spark,
      s"EXPLAIN PROBE INDEX sqlfd_idx FOR (${qv.mkString(", ")}) LIMIT 10")
    assert(ex.columns.toSeq == Seq("plan_line") && ex.count() > 3)

    // B-tree-class methods return the layout recipe (the honest mapping
    // on columnar storage), never a silent drop.
    val bt = graft.sql(spark, "CREATE INDEX plain_idx ON emb_sqlfd (vec_id)")
    assert(bt.collect().head.getString(3).contains("sortWithinPartitions"))

    // CHECKPOINT (the reference's WAL-flush command) answers with the
    // Spark seat of the durability point.
    assert(graft.sql(spark, "CHECKPOINT").collect().head.getString(1) == "ok")

    // Plain statements pass through the plan cache: same text, same
    // session -> the SAME reusable plan object, and a cache hit.
    val h0 = PlanCache.hits
    val a = graft.sql(spark, "SELECT count(*) AS n FROM emb_sqlfd")
    val b = graft.sql(spark, "SELECT count(*) AS n FROM emb_sqlfd")
    assert(a eq b)
    assert(PlanCache.hits == h0 + 1)
    assert(a.collect().head.getLong(0) == Tables.embeddings(spark, TestSpark.sf).count())

    // Parameterized text binds through Spark's native named parameters.
    val p = graft.sql(spark,
      "SELECT count(*) AS n FROM emb_sqlfd WHERE vec_id < :cap", Map("cap" -> 10))
    assert(p.collect().head.getLong(0) == 10L)

    assert(graft.sql(spark, "DROP INDEX sqlfd_idx").collect().head.getBoolean(1))
    spark.catalog.dropTempView("emb_sqlfd")
  }
}
