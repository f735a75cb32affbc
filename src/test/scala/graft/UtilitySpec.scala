package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

class UtilitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin preserves inner equi-join semantics under skew") {
    // 10k rows, 90% on one hot key — the shape AQE alone can't always fix.
    val large = spark.range(10000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val small = Seq((1L, "hot"), (20L, "cold"), (30L, "cold")).toDF("k", "name")
    val expected = large.join(small, Seq("k"), "inner").count()
    val salted = Skew.saltedJoin(large, small, "k", buckets = 8)
    assert(salted.count() == expected)
    assert(salted.columns.toSeq == Seq("k", "payload", "name"))
  }

  test("AQE splits a skewed sort-merge join at runtime (the non-salt path)") {
    // The other half of the Skew story: salting is only for keys AQE
    // CANNOT fix, so pin that AQE's skew-join split actually fires on an
    // ordinary skewed join. Thresholds are lowered to make the ~MB-scale
    // test partition qualify; on a cluster the defaults (256 MB) play the
    // same role.
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select(when(col("id") % 20 =!= 0, lit(1L)).otherwise(col("id") % 1000).as("k"),
          concat(lit("payload_"), col("id")).as("pay"))
      val right = spark.range(1000).select(col("id").as("k"), col("id").as("v"))
      val j = left.join(right, "k")
      // Execute j ITSELF (count() would plan a different query) so its
      // adaptive plan is finalized before inspecting it.
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE skew split did not fire:\n" + plan.take(800))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedCount equals plain count by key") {
    val df = spark.range(5000)
      .select(when(col("id") % 100 =!= 0, lit("hot")).otherwise(lit("rare")).as("k"))
    val plain = df.groupBy(col("k")).count().as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(df, col("k"), buckets = 8)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("Bloom might_contain has no false negatives and bounded false positives") {
    // Pins the native expression itself (including its codegen path, which
    // runs inside the filter): every inserted key must probe true; a
    // disjoint key set must probe true at ~fpp, not more than a few x it.
    val n = 20000L
    val inserted = spark.range(n).select((col("id") * 2654435761L).as("h"))
    val bloom = inserted.stat.bloomFilter("h", n, 0.01)
    import org.apache.spark.sql.graft.BloomExpressions.mightContainLong
    val hits = inserted.filter(mightContainLong(col("h"), bloom)).count()
    assert(hits == n, s"false negatives: ${n - hits} of $n")
    val disjoint = spark.range(n)
      .select((col("id") * 2654435761L + 1234567L).as("h"))
    val fp = disjoint.filter(mightContainLong(col("h"), bloom)).count()
    assert(fp < n * 0.05, s"fp rate ${fp.toDouble / n} exceeds 5x the 1% target")
  }

  test("q33 approximate aggregates stay within sketch error bounds") {
    val sf = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("q33_approx_agg")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("median"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (parts, median)) =>
      val (aParts, aMedian) = approx(k)
      assert(math.abs(aParts - parts).toDouble / parts < 0.05,
        s"$k distinct: approx=$aParts exact=$parts")
      assert(math.abs(aMedian - median) / median < 0.05,
        s"$k median: approx=$aMedian exact=$median")
    }
  }

  test("Explain surfaces plan lines as a DataFrame") {
    val lines = Explain.query(spark, "q25_tpch_q1", TestSpark.sf)
      .collect().map(_.getString(0))
    assert(lines.exists(_.contains("Scan parquet")))
    assert(lines.exists(_.contains("HashAggregate")))
  }

  test("Ddl registers tables for spark.sql and drops them") {
    Ddl.registerAll(spark, TestSpark.sf)
    val n = spark.sql(
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect().head.getLong(0)
    assert(n > 0)
    graft.sql(spark, "DROP VIEW lineitem")
    assert(!spark.catalog.tableExists("lineitem"))
    assert(Ddl.indexHint(Seq("l_shipdate")).contains("sortWithinPartitions"))
  }

  test("Json.quote escapes quotes, backslashes and control characters") {
    val raw = "a\"b\\c\u0001d\te\nf"
    val quoted = Json.quote(raw)
    assert(quoted == "\"a\\\"b\\\\c\\u0001d\\te\\nf\"")
    // and a real JSON parser reads it back to the original string
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(quoted).asText == raw)
  }

  test("Bench parses SPARK_GRAFT_CPUS as a positive core count") {
    assert(Bench.parseCpus(None) == 32)
    assert(Bench.parseCpus(Some(" 4 ")) == 4)
    Seq("*", "0", "-2", "four", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
    }
  }

  test("Bench parses its rep count and shuffle partitions strictly") {
    for (v <- Seq("SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_SHUFFLE_PARTITIONS")) {
      assert(Bench.positiveInt(v, None, 3) == 3)
      assert(Bench.positiveInt(v, Some(" 12 "), 3) == 12)
      Seq("0", "-1", "3x", "two", "").foreach { bad =>
        val e = intercept[IllegalArgumentException](Bench.positiveInt(v, Some(bad), 3))
        assert(e.getMessage.contains(v) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }

  test("Bench.attempt reports a failed query and goes on, but a JVM error ends the run") {
    assert(Bench.attempt("q")(41 + 1).contains(42))
    assert(Bench.attempt("q")(throw new IllegalStateException("boom")).isEmpty)
    intercept[OutOfMemoryError](Bench.attempt("q")(throw new OutOfMemoryError("simulated")))
  }

  test("a cut nothing reads runs no job") {
    val input = spark.range(0, 1000, 1, 4).select((col("id") * 7).as("x"))
    val (_, jobs) = org.apache.spark.graft.JobCounter(spark.sparkContext)(input.cut)
    assert(jobs == 0, s"building the cut ran $jobs job(s)")
  }

  test("a cut read by two actions computes its input once") {
    val computed = spark.sparkContext.longAccumulator("cut input rows")
    val tick = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    val c = spark.range(0, 100, 1, 4).select(tick(col("id")).as("x")).cut
    assert(c.count() == 100)
    assert(c.agg(sum(col("x"))).head().getLong(0) == 4950L)
    assert(computed.value == 100L, s"the cut's input ran ${computed.value / 100.0} times")
  }

  test("no code line under src/main/scala calls localCheckpoint( outside the cut helper") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${root.getAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val calls = java.nio.file.Files.walk(root.toPath).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.startsWith("*") && !line.trim.startsWith("/*") &&
              line.split("//")(0).contains("localCheckpoint(") => s"${root.toPath.relativize(f)}:${i + 1}"
        }
      }
    assert(calls.size == 1 && calls.head.startsWith("graft/package.scala:"),
      s"localCheckpoint( outside graft.Cut: ${calls.mkString(", ")}")
  }
}
