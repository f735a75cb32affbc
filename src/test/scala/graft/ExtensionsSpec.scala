package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParamLiteral
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("injected SQL functions resolve and compute") {
    val r = spark.sql(
      """SELECT graft_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |                    CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c,
        |       graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                 CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d,
        |       graft_l2norm(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS n
        |""".stripMargin).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 5.0) < 1e-12)
  }

  test("NormalizeConstantCosine rewrites constant-vector cosine to the fused form") {
    // Parquet-backed (a LocalRelation input would be constant-folded away
    // before the rewrite could be observed).
    val e = Tables.embeddings(spark, TestSpark.sf)
    val qv = e.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val viaCosine = e.select(col("vec_id"),
      org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("embedding"), lit(qv)).as("c"))
    val optimized = viaCosine.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_cosine_const"), optimized)
    assert(!optimized.contains("graft_cosine("), optimized)
    // Rewritten plan must still satisfy cosine(q, q) = 1.
    val top = viaCosine.filter(col("vec_id") === 0).collect().head.getDouble(1)
    assert(math.abs(top - 1.0) < 1e-12)
  }

  test("zero-vector semantics survive the rewrite") {
    val df = Seq((1L, Array(0.0f, 0.0f))).toDF("id", "v")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("v"), lit(Array(1.0f, 1.0f))).as("c"))
    assert(df.collect().head.getDouble(0) == 0.0)
    val dfZeroConst = Seq((1L, Array(1.0f, 1.0f))).toDF("id", "v")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("v"), lit(Array(0.0f, 0.0f))).as("c"))
    assert(dfZeroConst.collect().head.getDouble(0) == 0.0)
  }

  test("length-mismatched cosine is null, on the rewrite path too") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "v")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("v"), lit(Array(1.0f, 1.0f))).as("c"))
    assert(df.collect().head.isNullAt(0))
    val equalLen = Seq((1L, Array(1.0f, 1.0f))).toDF("id", "v")
      .select(org.apache.spark.sql.graft.VectorExpressions
        .cosine(col("v"), lit(Array(1.0f, 1.0f))).as("c"))
    assert(math.abs(equalLen.collect().head.getDouble(0) - 1.0) < 1e-12)
  }

  test("ThresholdedLevenshtein rewrites bounded comparisons to the banded DP") {
    import org.apache.spark.sql.catalyst.expressions.Levenshtein
    // Parquet-backed (LocalRelation would constant-fold first). A naive
    // user predicate `levenshtein(text, probe) <= 6` must leave the
    // optimizer as the O(k·n) banded form `levenshtein(text, probe, 6)`.
    val docs = Tables.documents(spark, TestSpark.sf).limit(200)
    val probe = "key agg row scan slow fast"
    def levOf(df: org.apache.spark.sql.DataFrame): Seq[Levenshtein] =
      df.queryExecution.optimizedPlan.expressions
        .flatMap(_.collect { case l: Levenshtein => l })
    val filtered = docs.filter(expr(s"levenshtein(substring(text, 1, 26), '$probe') <= 6"))
    val levs = levOf(filtered)
    assert(levs.nonEmpty && levs.forall(_.threshold.isDefined),
      s"expected banded levenshtein, got: ${levs.mkString(";")}")
    // Semantics: membership equals a local reference DP on every doc.
    def localLev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = docs.select(col("doc_id"), substring(col("text"), 1, 26).as("h"))
      .collect().filter(r => localLev(r.getString(1), probe) <= 6).map(_.getLong(0)).toSet
    val got = filtered.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == expected, s"rewrite changed semantics: got ${got.size}, expected ${expected.size}")
    // Strict `<` lowers the band by one; flipped orientation matches too.
    val strict = levOf(docs.filter(expr(s"6 > levenshtein(text, '$probe')")))
    assert(strict.nonEmpty && strict.forall(
      _.threshold.exists(_.toString.contains("5"))), strict.mkString(";"))
    // Non-literal bounds stay untouched.
    val dynamic = levOf(docs.filter(expr("levenshtein(text, 'x') <= n_chars")))
    assert(dynamic.nonEmpty && dynamic.forall(_.threshold.isEmpty))
    // A BIGINT bound coerces the distance through Cast(…, LongType) —
    // the rule must see through the widening and still band (and the
    // rewrite must drop the now-redundant cast, not orphan it).
    val longBound = docs.filter(expr(s"levenshtein(text, '$probe') <= 6222111000"))
    assert(levOf(longBound).forall(_.threshold.isEmpty),
      "out-of-Int-range Long bound must stay untouched")
    val coerced = docs.filter(expr(s"levenshtein(substring(text, 1, 26), '$probe') <= CAST(6 AS BIGINT)"))
    val clevs = levOf(coerced)
    assert(clevs.nonEmpty && clevs.forall(_.threshold.isDefined),
      s"expected banded levenshtein through Cast, got: ${clevs.mkString(";")}")
    val gotCoerced = coerced.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(gotCoerced == expected, "Cast-path rewrite changed semantics")
  }

  test("the GraftSession-built suite session carries the shared confs and rules") {
    val conf = spark.sessionState.conf
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.filesMaxPartitionBytes == 4L * 1024 * 1024)
    assert(conf.numShufflePartitions == 4)
    assert(spark.sparkContext.master == "local[4]")
    Seq("graft_cosine", "graft_dot", "graft_minhash", "graft_quality").foreach { f =>
      assert(spark.catalog.functionExists(f), s"$f not injected")
    }
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(graft.plans.NormalizeConstantCosine))
    assert(rules.contains(graft.plans.ThresholdedLevenshtein))
    assert(spark.sessionState.columnarRules.contains(graft.plans.StableFilterLiterals.AsColumnarRule))
  }

  private def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the codegen cache outlasts Spark's 100 entries: a re-run plan compiles no class") {
    // Each literal is spliced into its plan's generated code, so every
    // plan compiles its own class; 150 of them overflow Spark's default.
    def run(i: Int): Unit =
      assert(spark.range(1).selectExpr(s"id * $i + 1 AS x").collect().head.getLong(0) == 1L)
    (0 until 150).foreach(run)
    val c0 = compilations
    run(0)
    assert(compilations == c0, s"${compilations - c0} classes recompiled for the first plan")
  }

  test("CodegenCache.entries: Spark's own conf value wins, else graft's size") {
    import org.apache.spark.sql.graft.CodegenCache
    assert(CodegenCache.entries(None) == CodegenCache.GraftEntries)
    assert(CodegenCache.entries(Some("500")) == 500)
    assert(CodegenCache.entries(Some("0")) == 0)
    Seq("-1", "many", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](CodegenCache.entries(Some(bad)))
      assert(e.getMessage.contains("spark.sql.codegen.cache.maxEntries") ||
        e.getMessage.contains("must not be negative"), e.getMessage)
    }
    // Nothing in the suite's JVM sets the conf: the suite session runs at graft's size.
    assert(CodegenCache.sizeOnce() == CodegenCache.GraftEntries)
  }

  private def filtersOf(df: org.apache.spark.sql.DataFrame) =
    collect(df.queryExecution.executedPlan) { case f: org.apache.spark.sql.execution.FilterExec => f }

  test("StableFilterLiterals: a filter that differs only in a literal compiles no new class") {
    val orders = Tables.orders(spark, TestSpark.sf)
    def q(k: Int, lo: Double) = orders
      .filter(col("o_custkey") % 64 === k && col("o_totalprice") > lo)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows(q(3, 10.0)) // compiles the plan shape once
    val c0 = compilations
    val got = q(4, 25.5)
    val r = rows(got)
    assert(compilations == c0, s"${compilations - c0} classes compiled for a new literal")
    // Same rows as a locally filtered reference.
    val expected = orders.select("o_custkey", "o_totalprice", "o_orderpriority").collect()
      .filter(x => x.getLong(0) % 64 == 4 && x.getDouble(1) > 25.5)
      .groupBy(_.getString(2)).map { case (k, xs) => k -> xs.length.toLong }
    assert(r == expected)
    val conds = filtersOf(got).map(_.condition)
    assert(conds.exists(_.exists(_.isInstanceOf[ParamLiteral])), conds.mkString(";"))
    assert(!conds.exists(_.exists {
      case Literal(_, t) => t == IntegerType || t == LongType || t == DoubleType
      case _ => false
    }), conds.mkString(";"))
  }

  test("StableFilterLiterals leaves the scan's pushed filters with the real literal") {
    val df = Tables.orders(spark, TestSpark.sf).filter(col("o_custkey") === 1234567L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,1234567)]"), plan)
    assert(filtersOf(df).exists(_.condition.exists(_.isInstanceOf[ParamLiteral])), plan)
  }

  test("StableFilterLiterals: branches that differ only in a literal are not reused as one exchange") {
    val orders = Tables.orders(spark, TestSpark.sf)
    def branch(k: Long) = orders.filter(col("o_custkey") % 7 === k)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .withColumn("k", lit(k))
    def reused(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.toString.contains("ReusedExchange")
    }
    val distinct = branch(1L).unionByName(branch(2L))
    assert(!reused(distinct), distinct.queryExecution.executedPlan.toString)
    val got = distinct.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("o_orderpriority")) ->
      r.getAs[Long]("n")).toMap
    val expected = orders.select("o_custkey", "o_orderpriority").collect()
      .filter(x => x.getLong(0) % 7 == 1 || x.getLong(0) % 7 == 2)
      .groupBy(x => (x.getLong(0) % 7, x.getString(1))).map { case (k, xs) => k -> xs.length.toLong }
    assert(got == expected)
    // Control: equal values still canonicalize equal and reuse the exchange.
    val same = orders.filter(col("o_custkey") % 7 === 1L)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(reused(same.unionByName(same)))
  }
}
