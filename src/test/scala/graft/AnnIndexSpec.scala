package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AnnIndex
import graft.sources.Io

/** Pins the load-bearing 100 TB claim behind v03/v05: when the index is
  * WRITTEN (partitioned by IVF cell / bucketed by packed band key), a
  * probe is pruned I/O — directories and buckets that can't match are
  * never read — and the pruned probe returns exactly what the in-memory
  * query forms return. */
class AnnIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val tmp = Files.createTempDirectory("graft-annidx").toString

  private def embeddings = Tables.embeddings(spark, TestSpark.sf)
  private def queryVec: Array[Float] = embeddings.filter(col("vec_id") === 0)
    .select(col("embedding")).head().getSeq[Float](0).toArray

  test("IVF probe is partition-pruned: only the probed cell directories are read") {
    val k = 16; val nProbe = 6
    val e = embeddings
    val cents = AnnIndex.trainCentroids(e, k)
    AnnIndex.writeIvf(e, cents, s"$tmp/ivf")

    val qv = queryVec
    val cells = AnnIndex.probeCells(qv, cents, nProbe).toSet

    // Layout sanity: the write produced one directory per (non-empty)
    // cell, and substantially more cells than the probe touches.
    val cellDirs = new File(s"$tmp/ivf").listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > nProbe, s"only ${cellDirs.length} cell dirs — pruning would be vacuous")

    // 1. The filter reaches the scan as a PARTITION filter (directory
    //    pruning), not a post-scan data filter.
    val probe = AnnIndex.probeIvf(spark, s"$tmp/ivf", qv, cents, nProbe, 20)
    val plan = probe.queryExecution.executedPlan.treeString
    assert(plan.contains("PartitionFilters: [cell"), plan.take(500))

    // 2. Execution-level proof: every file that produced rows lives in a
    //    probed cell's directory, and the probe touched ≤ nProbe of the
    //    cell directories.
    val filesRead = spark.read.parquet(s"$tmp/ivf")
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))
    val cellsTouched = filesRead.map { f =>
      "cell=([0-9]+)".r.findFirstMatchIn(f).get.group(1).toInt
    }.toSet
    assert(cellsTouched.subsetOf(cells), s"read outside probed cells: ${cellsTouched -- cells}")
    assert(cellsTouched.size <= nProbe)

    // 3. The pruned probe returns exactly what the same filter computes
    //    over the unpartitioned table (v05's in-memory form).
    val expected = e.withColumn("cell", AnnIndex.cellOf(col("embedding"), cents))
      .filter(col("cell").isin(cells.toSeq: _*))
      .select(col("vec_id"),
        org.apache.spark.sql.graft.VectorExpressions.cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
  }

  test("incremental IVF append: no retrain, no rewrite, probe equals a full rebuild") {
    val k = 16; val nProbe = 6
    val e = embeddings
    // Standing index from the PREFIX 80% of the corpus (a modular
    // holdout would punch holes in trainCentroids' [0, k) seed range
    // and silently train fewer centroids); centroids are frozen model
    // state.
    val standing = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    val cents = AnnIndex.trainCentroids(standing, k)
    AnnIndex.writeIvf(standing, cents, s"$tmp/ivfinc")
    def allFiles = new File(s"$tmp/ivfinc").listFiles()
      .filter(_.getName.startsWith("cell="))
      .flatMap(_.listFiles()).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    val before = allFiles
    // Append the new batch: same frozen quantizer, append-mode write.
    AnnIndex.appendIvf(batch, cents, s"$tmp/ivfinc")
    val after = allFiles
    // The standing files are untouched — append added, never rewrote.
    assert(before.subsetOf(after), s"append rewrote ${(before -- after).take(3)}")
    assert(after.size > before.size, "append added no files")
    // The appended index answers EXACTLY like a from-scratch rebuild of
    // the union under the same centroids.
    val qv = queryVec
    AnnIndex.writeIvf(e, cents, s"$tmp/ivffull")
    val inc = AnnIndex.probeIvf(spark, s"$tmp/ivfinc", qv, cents, nProbe, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = AnnIndex.probeIvf(spark, s"$tmp/ivffull", qv, cents, nProbe, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(inc == full)
  }

  test("IVF+PQ probe: ADC scan is partition-pruned, reads codes not embeddings, re-rank is exact") {
    val kCells = 16; val nProbe = 6; val m = 8; val ksub = 32
    val e = embeddings
    val cents = AnnIndex.trainCentroids(e, kCells)
    val books = graft.operators.Pq.train(e, m, ksub)
    AnnIndex.writeIvfPq(e, cents, books, m, ksub, s"$tmp/ivfpq")

    val qv = queryVec
    val cells = AnnIndex.probeCells(qv, cents, nProbe).toSet
    val probe = AnnIndex.probeIvfPq(spark, s"$tmp/ivfpq", qv, cents, books,
      m, ksub, nProbe, rerank = 150, k = 20)
    val plan = probe.queryExecution.executedPlan.treeString

    // Both scans (ADC pass and re-rank fetch) are partition-pruned.
    assert(plan.contains("PartitionFilters: [cell"), plan.take(800))
    // Column pruning: the ADC pass reads ONLY (vec_id, codes) — there
    // must be a scan whose ReadSchema has codes and no embedding, so at
    // 100 TB the scoring scan touches 8 bytes/vector, not the vectors.
    val schemas = "ReadSchema: ([^\\n]+)".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(schemas.exists(s => s.contains("codes") && !s.contains("embedding")),
      s"no codes-only scan in:\n${schemas.mkString("\n")}")

    // The probe's answer equals the same two-phase computation over the
    // unpartitioned in-memory table (cell filter + ADC top-rerank + exact
    // re-rank) — layout changes I/O, never results.
    import org.apache.spark.sql.graft.VectorExpressions
    val (dotL, nrmL) = graft.operators.Pq.luts(qv, books, m, ksub)
    val mem = e.withColumn("cell", AnnIndex.cellOf(col("embedding"), cents))
      .filter(col("cell").isin(cells.toSeq: _*))
    val memCands = mem.select(col("vec_id"),
        VectorExpressions.pqAdcCosine(
          VectorExpressions.pqEncode(col("embedding"), books.toSeq, m, ksub),
          dotL.toSeq, nrmL.toSeq, m, ksub).as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc).limit(150)
    val expected = memCands.join(mem.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), VectorExpressions.cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected)
    // Returned scores are EXACT cosines (re-rank restored full precision).
    val exact = e.select(col("vec_id"),
        VectorExpressions.cosine(col("embedding"), lit(qv)).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) => assert(s == exact(id), s"vec $id score $s != ${exact(id)}") }
  }

  test("LSH band-table probe is bucket-pruned and matches v03's answer") {
    val bandBits = 4; val nBands = 16; val buckets = 32
    val e = embeddings
    // Clear both the catalog entry and an orphaned managed-table location
    // (left behind if a previous run died between create and drop).
    spark.sql("DROP TABLE IF EXISTS lsh_band_idx")
    val orphan = new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "lsh_band_idx")
    if (orphan.exists())
      Files.walk(orphan.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    AnnIndex.writeLsh(e, bandBits, nBands, "lsh_band_idx", buckets)

    val callerConf = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val probe = AnnIndex.probeLsh(spark, "lsh_band_idx", e, queryVec,
      bandBits, nBands, k = 21)
    // The probe plans on the caller's session and must not change its
    // settings.
    assert(spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == callerConf)
    // Same candidates, same ranking as the in-memory v03 form (which
    // excludes the query vector itself; the index probe naturally finds
    // it at rank 1 with cos 1, so drop it before comparing).
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._1 != 0L).take(20).toSeq
    // Bucket pruning fired: the executed scan read the files of the
    // query's ≤ nBands buckets, never all of them.
    val (read, all) = TestSpark.bucketsRead(probe, "lsh_band_idx")
    assert(read > 0 && read <= nBands && read < all, s"read $read of $all buckets")
    val v03 = SparkEntry.queries("v03_knn_lsh")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == v03)
    spark.sql("DROP TABLE IF EXISTS lsh_band_idx")
  }

  test("incremental LSH append: standing files untouched, probe equals a full rebuild") {
    val bandBits = 4; val nBands = 16; val buckets = 32
    val e = embeddings
    def reset(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val orphan = new File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (orphan.exists())
        Files.walk(orphan.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
    }
    Seq("lsh_inc_idx", "lsh_full_idx").foreach(reset)
    val standing = e.filter(col("vec_id") < 400)
    val batch = e.filter(col("vec_id") >= 400)
    AnnIndex.writeLsh(standing, bandBits, nBands, "lsh_inc_idx", buckets)
    def files(t: String): Set[String] = {
      val dir = new File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      val out = scala.collection.mutable.Set.empty[String]
      Files.walk(dir.toPath).forEach { p =>
        val s = p.toString; if (s.endsWith(".parquet")) out += s
      }
      out.toSet
    }
    val before = files("lsh_inc_idx")
    AnnIndex.appendLsh(batch, bandBits, nBands, "lsh_inc_idx", buckets)
    val after = files("lsh_inc_idx")
    assert(before.subsetOf(after), s"append rewrote ${(before -- after).take(3)}")
    assert(after.size > before.size, "append added no files")
    // The appended index answers EXACTLY like a from-scratch rebuild of
    // the union (same geometry — there is no model state to freeze).
    AnnIndex.writeLsh(e, bandBits, nBands, "lsh_full_idx", buckets)
    val qv = queryVec
    def top(t: String) = AnnIndex.probeLsh(spark, t, e, qv, bandBits, nBands, 21)
    assert(top("lsh_inc_idx").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      top("lsh_full_idx").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // Bucket pruning survives the append (old + new files, probed ids only).
    val incProbe = top("lsh_inc_idx")
    incProbe.collect()
    val (read, all) = TestSpark.bucketsRead(incProbe, "lsh_inc_idx")
    assert(read > 0 && read <= nBands && read < all, s"read $read of $all buckets after append")
    Seq("lsh_inc_idx", "lsh_full_idx").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SemDeDup on the bucketed cell layout: pair join is partition-local and matches in-memory") {
    import graft.operators.Ann
    val e = embeddings
    val k = AnnIndex.cellCount(e.count()) // 500/32 → 16 at sf0.01
    assert(k == AnnIndex.cellCount(500))
    val model = AnnIndex.trainCellModel(e, k)
    spark.sql("DROP TABLE IF EXISTS semdedup_cells")
    val orphan = new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "semdedup_cells")
    if (orphan.exists())
      Files.walk(orphan.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    AnnIndex.writeCells(e, model, "semdedup_cells", buckets = 8)

    // Plan gate on a cloned session with broadcast OFF: at corpus scale
    // neither side of the self-join is broadcastable, so the bucketed
    // layout must carry the join alone — and it does: both scans are
    // pre-shuffled by cell, so the executed plan holds NO exchange of
    // any kind (shuffle or broadcast). Cross-cell traffic is impossible
    // by layout.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dropped = Ann.semDedupDropped(
      sess.table("semdedup_cells").select(col("vec_id"), col("cell"), col("embedding")), 0.45)
    dropped.collect() // execute so AQE finalizes the plan it actually ran
    val plan = dropped.queryExecution.executedPlan.treeString
    assert(!plan.contains("Exchange"),
      s"within-cell pair join must be partition-local:\n${plan.take(1200)}")

    // Identical keeper set to the in-memory form: layout changes I/O and
    // shuffle topology, never results.
    val mem = Ann.semDedup(e.select(col("vec_id"),
        AnnIndex.cellOfModel(col("embedding"), model).as("cell"), col("embedding")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val onLayout = AnnIndex.semDedupOnCells(spark, "semdedup_cells")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(onLayout == mem,
      s"missing=${(mem -- onLayout).take(5)} extra=${(onLayout -- mem).take(5)}")
    spark.sql("DROP TABLE IF EXISTS semdedup_cells")
  }

  private def dropManaged(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val orphan = new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    if (orphan.exists())
      Files.walk(orphan.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  test("d13 probes a persisted corpus layout: corpus side shuffle-free, equal to in-memory") {
    import graft.operators.{Dedup, Lsh}
    val docs = Tables.documents(spark, TestSpark.sf)
    val isBatch = col("doc_id") % 5 === 0
    Seq("graft_corpus_bands", "graft_corpus_hashes", "graft_corpus_grams")
      .foreach(dropManaged)
    Dedup.writeCorpusDedupLayout(docs.filter(!isBatch), "graft_corpus")

    // 1. The layout probe returns EXACTLY what the registered in-memory
    //    d13 computes — the standing layout changes I/O, never results.
    val got = Dedup.incrementalDedupOnLayout(spark, "graft_corpus", docs.filter(isBatch))
      .collect().map(_.toString).toSet
    val mem = SparkEntry.queries("d13_incremental_dedup")(spark, TestSpark.sf)
      .collect().map(_.toString).toSet
    assert(got == mem, s"missing=${(mem -- got).take(3)} extra=${(got -- mem).take(3)}")

    // 2. The per-crawl band join shuffles ONLY the batch side: with
    //    broadcast off (at scale neither side fits), the corpus scan is
    //    bucketed on the join key and feeds the join with no exchange —
    //    exactly one hash exchange (the batch) in the whole join plan.
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val batJ = Lsh.minhashBandTable(Tables.documents(sess, TestSpark.sf).filter(isBatch), 3, 8, 4)
    val j = batJ.as("a").join(sess.table("graft_corpus_bands").as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id"), col("b.doc_id"))
    j.collect()
    // AQE's treeString appends the pre-execution "== Initial Plan ==" —
    // count exchanges only in the final plan that actually ran.
    val jplan = j.queryExecution.executedPlan.treeString.split("== Initial Plan ==")(0)
    val exchanges = jplan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"corpus side must read pre-shuffled ($exchanges exchanges):\n${jplan.take(4000)}")
    assert(jplan.contains("Bucketed: true"),
      s"corpus band scan must be bucketed:\n${jplan.take(4000)}")
    Seq("graft_corpus_bands", "graft_corpus_hashes", "graft_corpus_grams")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("band lattices beyond the 64-bit signature are rejected loudly") {
    import org.apache.spark.sql.functions.{col, lit}
    // hyperplaneSig caps at 64 bits; 5×16 = 80 would silently alias band
    // groups (index corruption, recall loss with no error) — fail fast.
    intercept[IllegalArgumentException] {
      AnnIndex.bandKeys(lit(0L), bandBits = 5, nBands = 16)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.writeLsh(embeddings, bandBits = 8, nBands = 9, "never_written", 4)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.probeLsh(spark, "never_written", embeddings, queryVec,
        bandBits = 13, nBands = 5, k = 1)
    }
    // The boundary itself is legal.
    AnnIndex.bandKeys(col("sig"), bandBits = 4, nBands = 16)
  }

  test("corpus-refresh fold ≡ from-scratch rebuild — clean, replayed, and torn-recovery folds") {
    import graft.operators.{Dedup, Lsh}
    import graft.sources.{Io, Versioned}
    val docs = Tables.documents(spark, TestSpark.sf)
    val isBatch = col("doc_id") % 5 === 0
    val prefix = "graft_fold"
    val rb = "graft_fold_rb"
    def layoutTables(p: String) = Seq(s"${p}_bands", s"${p}_hashes", s"${p}_grams")
    (layoutTables(prefix) ++ layoutTables(rb)).foreach(dropManaged)
    val corpus = docs.filter(!isBatch)
    Dedup.writeCorpusDedupLayout(corpus, prefix)
    val admitted = Files.createTempDirectory("graft-fold").toString + "/admitted"
    val sink = Dedup.streamingIncrementalDedupSink(prefix, admitted, "foldapp")
    val crawl = docs.filter(isBatch).localCheckpoint()
    sink(crawl.filter(col("doc_id") % 2 === 0).toDF(), 0L)
    sink(crawl.filter(col("doc_id") % 2 === 1).toDF(), 1L)

    // Text store the fold reads delta texts from: the original documents
    // plus (later) the synthetic second-epoch crawl.
    def newVocabDocs(pfx: String, idShift: Long) = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + idShift).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(pfx), w)), " ").as("text"),
        col("source"), col("n_chars"))
    val crawl2 = newVocabDocs("qq", 10000000L).localCheckpoint()
    val textStore = docs.select(col("doc_id"), col("text"))
      .unionByName(crawl2.select(col("doc_id"), col("text")))

    def snap(p: String): Seq[Seq[String]] =
      layoutTables(p).map(t => spark.table(t).collect().map(_.toString).sorted.toSeq)
    def rebuildOnAdmissions(): Seq[Seq[String]] = {
      layoutTables(rb).foreach(dropManaged)
      val admittedTexts = Versioned.read(spark, admitted).select(col("doc_id"))
        .join(textStore, Seq("doc_id"))
      Dedup.writeCorpusDedupLayout(
        corpus.select(col("doc_id"), col("text")).unionByName(admittedTexts), rb)
      snap(rb)
    }

    // 1. Clean fold == from-scratch rebuild on corpus + admissions.
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)
    val afterFold1 = snap(prefix)
    assert(afterFold1 == rebuildOnAdmissions(), "clean fold != rebuild")

    // 2. Replayed fold (nothing new): no-op, tables bit-identical.
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).isEmpty)
    assert(snap(prefix) == afterFold1, "replayed fold mutated the layout")

    // 3. Torn-recovery: epoch 2 admits a new-vocabulary crawl; a fold
    //    commits its INTENT marker and appends the bands family, then
    //    "dies" (no grams/hashes, no done marker). The recovery fold
    //    must detect the orphan intent, re-run the delta WITH guards,
    //    and land exactly the rebuild state — no duplicated band rows.
    sink(crawl2.toDF(), 2L)
    val v = Versioned.currentVersion(spark, admitted)
    Versioned.commitBatchAppend(spark, admitted, s"$prefix.fold.intent", v,
      Versioned.read(spark, admitted).limit(0))
    val tornBands = Lsh.minhashBandTable(
        crawl2.select(col("doc_id"), col("text")), 3, 8, 4)
    Io.appendBucketedBy(tornBands, s"${prefix}_bands", Seq("band", "sig"), 8)
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)
    assert(snap(prefix) == rebuildOnAdmissions(), "torn-recovery fold != rebuild")
    (layoutTables(prefix) ++ layoutTables(rb)).foreach(dropManaged)
  }

  test("standing-layout compaction: files shrink, probes byte-identical, exchange elision survives, fold ledger intact") {
    import graft.operators.{Dedup, Lsh}
    import graft.sources.{Io, Versioned}
    val docs = Tables.documents(spark, TestSpark.sf)
    val isBatch = col("doc_id") % 5 === 0
    val prefix = "graft_cmp"
    val rb = "graft_cmp_rb"
    def layoutTables(p: String) = Seq(s"${p}_bands", s"${p}_hashes", s"${p}_grams")
    (layoutTables(prefix) ++ layoutTables(rb) ++
      layoutTables(prefix).map(_ + "__compact")).foreach(dropManaged)
    val corpus = docs.filter(!isBatch)
    Dedup.writeCorpusDedupLayout(corpus, prefix)
    val admitted = Files.createTempDirectory("graft-cmp").toString + "/admitted"
    val sink = Dedup.streamingIncrementalDedupSink(prefix, admitted, "cmpapp")
    val crawl = docs.filter(isBatch).localCheckpoint()
    sink(crawl.filter(col("doc_id") % 2 === 0).toDF(), 0L)
    sink(crawl.filter(col("doc_id") % 2 === 1).toDF(), 1L)
    def newVocabDocs(pfx: String, idShift: Long) = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + idShift).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(pfx), w)), " ").as("text"),
        col("source"), col("n_chars"))
    val crawl2 = newVocabDocs("zz", 20000000L).localCheckpoint()
    val textStore = docs.select(col("doc_id"), col("text"))
      .unionByName(crawl2.select(col("doc_id"), col("text")))
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)

    def snap(p: String): Seq[Seq[String]] =
      layoutTables(p).map(t => spark.table(t).collect().map(_.toString).sorted.toSeq)
    def probe(): Seq[String] =
      Dedup.incrementalDedupOnLayout(spark, prefix, crawl2.toDF())
        .collect().map(_.toString).sorted.toSeq

    // 1. Files strictly shrink on every table (initial write + fold
    //    append = at least two file generations each), rows untouched,
    //    and the PROBE — the layout's one consumer — returns the same
    //    bytes it returned before.
    val contentBefore = snap(prefix)
    val probeBefore = probe()
    val filesBefore = layoutTables(prefix)
      .map(t => t -> Io.tableFileCount(spark, t)).toMap
    // maxFilesPerBucket = 0: every populated directory/table is over
    // threshold, so the whole layout rewrites — the test exercises the
    // full machinery; production keeps the default threshold.
    val res = Dedup.compactCorpusLayout(spark, prefix, maxFilesPerBucket = 0)
    assert(res.keySet == layoutTables(prefix).toSet,
      s"expected all three tables rewritten, got ${res.keySet}")
    layoutTables(prefix).foreach { t =>
      val after = Io.tableFileCount(spark, t)
      assert(after < filesBefore(t),
        s"$t: $after files after vs ${filesBefore(t)} before — no reduction")
    }
    assert(snap(prefix) == contentBefore, "compaction changed table content")
    assert(probe() == probeBefore, "compaction changed probe results")

    // 2. The layout property survives: the band join still reads the
    //    corpus pre-shuffled (bucket spec preserved through the rewrite
    //    → one exchange, the batch side only).
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val batJ = Lsh.minhashBandTable(
      sess.createDataFrame(crawl2.toDF().rdd, crawl2.schema), 3, 8, 4)
    val j = batJ.as("a").join(sess.table(s"${prefix}_bands").as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
    j.collect()
    val jplan = j.queryExecution.executedPlan.treeString.split("== Initial Plan ==")(0)
    assert(jplan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1
      && jplan.contains("Bucketed: true"),
      s"bucketed read degraded post-compaction:\n${jplan.take(3000)}")

    // 3. The fold ledger is untouched: a TORN fold interrupted before
    //    recovery, with a compaction running in between (the nastiest
    //    legal interleaving — compaction must preserve the torn rows it
    //    compacts), still recovers to exactly the from-scratch rebuild.
    sink(crawl2.toDF(), 2L)
    val v = Versioned.currentVersion(spark, admitted)
    Versioned.commitBatchAppend(spark, admitted, s"$prefix.fold.intent", v,
      Versioned.read(spark, admitted).limit(0))
    Io.appendBucketedBy(
      Lsh.minhashBandTable(crawl2.select(col("doc_id"), col("text")), 3, 8, 4),
      s"${prefix}_bands", Seq("band", "sig"), 8)
    assert(Dedup.compactCorpusLayout(spark, prefix, maxFilesPerBucket = 0).nonEmpty)
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)
    def rebuildOnAdmissions(): Seq[Seq[String]] = {
      layoutTables(rb).foreach(dropManaged)
      val admittedTexts = Versioned.read(spark, admitted).select(col("doc_id"))
        .join(textStore, Seq("doc_id"))
      Dedup.writeCorpusDedupLayout(
        corpus.select(col("doc_id"), col("text")).unionByName(admittedTexts), rb)
      snap(rb)
    }
    assert(snap(prefix) == rebuildOnAdmissions(),
      "fold → compact → torn fold → compact → recovery != rebuild")
    (layoutTables(prefix) ++ layoutTables(rb)).foreach(dropManaged)
  }

  test("torn compaction swap recovery: roll forward, roll back, orphan dir") {
    import graft.sources.Io
    import spark.implicits._
    Seq("cmp_swap", "cmp_swap__compact").foreach(dropManaged)
    def mk(table: String, n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .write.bucketBy(2, "k").sortBy("k").format("parquet").saveAsTable(table)
    // Roll FORWARD: shadow complete, original already dropped — the
    // crash window between DROP and RENAME must finish the swap.
    mk("cmp_swap__compact", 10)
    Io.finishTornCompaction(spark, "cmp_swap")
    assert(spark.catalog.tableExists("cmp_swap")
      && !spark.catalog.tableExists("cmp_swap__compact"))
    assert(spark.table("cmp_swap").count() == 10)
    // Roll BACK: shadow beside a live original — the original wins, the
    // next compaction simply re-runs.
    mk("cmp_swap__compact", 3)
    Io.finishTornCompaction(spark, "cmp_swap")
    assert(spark.table("cmp_swap").count() == 10
      && !spark.catalog.tableExists("cmp_swap__compact"))
    // Orphan DIRECTORY (crash inside the shadow write, no catalog
    // entry): cleared so the rewrite can start clean — this is the
    // failure mode that otherwise kills saveAsTable with
    // LOCATION_ALREADY_EXISTS forever after.
    val orphan = new File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "cmp_swap__compact")
    orphan.mkdirs()
    Files.write(new File(orphan, "part-stale").toPath, Array[Byte](1, 2))
    Io.finishTornCompaction(spark, "cmp_swap")
    assert(!orphan.exists(), "orphan shadow directory not cleared")
    assert(spark.table("cmp_swap").count() == 10)
    dropManaged("cmp_swap")
  }

  test("torn compaction then fold: the fold finishes the swap first, fold == rebuild") {
    // The r13-advice hole: a compaction dying between DROP TABLE and
    // RENAME leaves a layout table with no catalog entry; a fold's append
    // used to CREATE the table fresh with only the delta rows, and the
    // next compaction's rollback then dropped the shadow holding the
    // standing corpus. Pin the fix end-to-end: the fold rolls the swap
    // forward on entry and lands exactly the from-scratch rebuild, and
    // the sink (the other writer entry) rolls it forward before probing.
    import graft.operators.Dedup
    import graft.sources.Versioned
    val docs = Tables.documents(spark, TestSpark.sf)
    val isBatch = col("doc_id") % 5 === 0
    val prefix = "graft_tc"
    val rb = "graft_tc_rb"
    def layoutTables(p: String) = Seq(s"${p}_bands", s"${p}_hashes", s"${p}_grams")
    (layoutTables(prefix) ++ layoutTables(rb) ++
      layoutTables(prefix).map(_ + "__compact")).foreach(dropManaged)
    val corpus = docs.filter(!isBatch)
    Dedup.writeCorpusDedupLayout(corpus, prefix)
    val admitted = Files.createTempDirectory("graft-tc").toString + "/admitted"
    val sink = Dedup.streamingIncrementalDedupSink(prefix, admitted, "tcapp")
    val crawl = docs.filter(isBatch).localCheckpoint()
    sink(crawl.toDF(), 0L)
    def newVocabDocs(pfx: String, idShift: Long) = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + idShift).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(pfx), w)), " ").as("text"),
        col("source"), col("n_chars"))
    val crawl2 = newVocabDocs("tc", 30000000L).localCheckpoint()
    val textStore = docs.select(col("doc_id"), col("text"))
      .unionByName(crawl2.select(col("doc_id"), col("text")))
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)

    // Next epoch admits new docs, THEN a compaction dies in its swap
    // window: shadow complete, original dropped — the exact DROP→RENAME
    // crash state, on ALL THREE layout tables, sitting between admission
    // and fold (the interleaving the r13 advice called untested).
    def tearSwaps(): Unit = layoutTables(prefix).foreach { t =>
      spark.sql(s"ALTER TABLE `$t` RENAME TO `${t}__compact`")
      assert(!spark.catalog.tableExists(t))
    }
    def assertSwapsFinished(writer: String): Unit = layoutTables(prefix).foreach { t =>
      assert(spark.catalog.tableExists(t) &&
        !spark.catalog.tableExists(s"${t}__compact"),
        s"$t: torn swap not finished by the $writer")
    }
    sink(crawl2.toDF(), 1L)
    tearSwaps()

    // The fold must recover the swap, not recreate tables from the delta.
    assert(Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore).nonEmpty)
    assertSwapsFinished("fold")
    // The sink must recover it before its probe reads the tables; the
    // re-offered epoch is already folded, so it admits nothing.
    tearSwaps()
    sink(crawl2.toDF(), 2L)
    assertSwapsFinished("sink")
    def snap(p: String): Seq[Seq[String]] =
      layoutTables(p).map(t => spark.table(t).collect().map(_.toString).sorted.toSeq)
    val admittedTexts = Versioned.read(spark, admitted).select(col("doc_id"))
      .join(textStore, Seq("doc_id"))
    Dedup.writeCorpusDedupLayout(
      corpus.select(col("doc_id"), col("text")).unionByName(admittedTexts), rb)
    assert(snap(prefix) == snap(rb), "torn-compact → fold != rebuild")
    (layoutTables(prefix) ++ layoutTables(rb)).foreach(dropManaged)
  }
}
