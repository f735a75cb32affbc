package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Io

class IoSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val tmp = Files.createTempDirectory("graft-io").toString

  test("partitioned parquet write prunes partitions on read") {
    val events = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("event_type"), col("value"))
    Io.writePartitioned(events, s"$tmp/events_part", Seq("event_type"))
    val back = spark.read.parquet(s"$tmp/events_part")
      .filter(col("event_type") === "click")
    val expected = events.filter(col("event_type") === "click").count()
    assert(back.count() == expected)
    val plan = back.queryExecution.executedPlan.treeString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(400))
  }

  test("bucketed table join runs without an exchange on the bucketed side") {
    val orders = Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    Io.writeBucketedBy(orders, "orders_bkt", Seq("o_custkey"), buckets = 4)
    val customers = Tables.customer(spark, TestSpark.sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = spark.table("orders_bkt")
      .hint("merge")
      .join(customers, col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.treeString
    // The bucketed side must NOT re-shuffle on the join key.
    val exchangesOnBucketSide = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(o_custkey")).size
    assert(exchangesOnBucketSide == 0, plan.take(600))
    assert(joined.count() ==
      orders.join(customers, col("o_custkey") === col("c_custkey")).count())
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
  }

  test("bucketed LSH band table self-joins with zero exchange") {
    // The at-scale claim behind d05/v03: write the band table bucketed
    // by (band, bv) once, and every band-bucket self-join or probe reads
    // pre-shuffled data — candidate generation with no exchange at all.
    import org.apache.spark.sql.graft.VectorExpressions.hyperplaneSig
    val bandBits = 3; val nBands = 21
    val banded = Tables.embeddings(spark, TestSpark.sf)
      .withColumn("sig", hyperplaneSig(col("embedding"), bandBits * nBands))
      .select(col("vec_id"),
        explode(graft.operators.Lsh.bandStructs(col("sig"), bandBits, nBands)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.bv").as("bv"))
    Io.writeBucketedBy(banded, "bands_bkt", Seq("band", "bv"), 4)
    val t = spark.table("bands_bkt")
    val j = t.as("x").hint("merge").join(t.as("y"), Seq("band", "bv"))
      .filter(col("x.vec_id") < col("y.vec_id"))
    val plan = j.queryExecution.executedPlan.treeString
    assert(!plan.contains("Exchange hashpartitioning(band"), plan.take(600))
    assert(j.count() > 0)
    spark.sql("DROP TABLE IF EXISTS bands_bkt")
  }

  test("z-order layout prunes on BOTH columns where a single-key sort serves one") {
    val orders = Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val files = 16
    Io.writeZOrdered(orders, s"$tmp/orders_z", "o_custkey", "o_totalprice", files)
    // The single-key clustered layout every warehouse writes by default.
    orders.repartitionByRange(files, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmp/orders_lin")
    // Per-file min/max of the SECOND column — exactly the stats parquet
    // row-group/file skipping consults for a predicate on o_totalprice.
    def fileRanges(p: String): Seq[(Double, Double)] =
      spark.read.parquet(p)
        .groupBy(input_file_name())
        .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val (zr, lr) = (fileRanges(s"$tmp/orders_z"), fileRanges(s"$tmp/orders_lin"))
    assert(zr.size == files && lr.size == files)
    // A narrow predicate on o_totalprice: which files could contain it?
    val all = orders.agg(min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val (gLo, gHi) = (all.getDouble(0), all.getDouble(1))
    val probeLo = gLo + (gHi - gLo) * 0.40
    val probeHi = gLo + (gHi - gLo) * 0.45
    def overlapping(rs: Seq[(Double, Double)]) =
      rs.count { case (lo, hi) => hi >= probeLo && lo <= probeHi }
    val (zHit, lHit) = (overlapping(zr), overlapping(lr))
    // Sorted-by-custkey files each span ~the whole price range: no skip.
    // Z-ordered files cover price rectangles: most files are skippable.
    assert(lHit == files, s"linear layout unexpectedly selective: $lHit/$files")
    assert(zHit <= files / 2, s"z-order not selective on 2nd column: $zHit/$files")
  }

  test("binaryFile source ingests raw files with extension pruning at listing") {
    val dir = Files.createTempDirectory("graft-bin")
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    Files.write(dir.resolve("red.png"), png(16, 8, 0xFF0000))
    Files.write(dir.resolve("green.png"), png(10, 10, 0x00FF00))
    Files.write(dir.resolve("notes.txt"), "not an image".getBytes)
    val files = Io.readBinaryFiles(spark, dir.toString, glob = "*.png")
    // The .txt never enters the scan — pruned at listing, not filtered.
    assert(files.count() == 2)
    val feats = graft.operators.Multimodal
      .extractFeatures(graft.operators.Multimodal.fromBinaryFiles(files))
      .collect().map(f => f.format -> f.features).toMap
    assert(feats.keySet == Set("png"))
    // Real decode, not the stub: dims ride in features(5)/(6), channel
    // means in features(0..2).
    val byDims = graft.operators.Multimodal
      .extractFeatures(graft.operators.Multimodal.fromBinaryFiles(files))
      .collect().map(f => (f.features(5).toInt, f.features(6).toInt) -> f.features).toMap
    assert(byDims.keySet == Set((16, 8), (10, 10)))
    assert(math.abs(byDims((16, 8))(0) - 1.0f) < 1e-3) // red channel mean
    assert(math.abs(byDims((10, 10))(1) - 1.0f) < 1e-3) // green channel mean
  }

  test("bucketed appends refuse to create a missing table") {
    // SaveMode.Append + saveAsTable silently CREATEs a missing table —
    // which would publish a standing index holding only the batch.
    // Appends are maintenance, never creation: the bucketed append path
    // must fail loud on a missing table.
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    spark.sql("DROP TABLE IF EXISTS io_no_create")
    val e = intercept[IllegalArgumentException] {
      Io.appendBucketedBy(df, "io_no_create", Seq("k"), 2)
    }
    assert(e.getMessage.contains("would hold only the batch"))
    assert(!spark.catalog.tableExists("io_no_create"))
  }
}
