package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming soak at scale (r13, verdict item 4): the exactly-once
  * stream → fold → next-epoch chain, spec-pinned at unit scale in
  * StreamingSpec, driven over the sf1.0 corpus through a REAL
  * Structured Streaming engine — checkpointed file source, foreachBatch
  * sink — with the failure modes production would see:
  *
  *   - ≥20 micro-batches (one crawl file per trigger);
  *   - ≥2 FORCED epoch replays: the sink throws AFTER its ledger commit
  *     on chosen epochs, killing the query; the restart re-runs the
  *     epoch from the engine checkpoint and the (appId, batchId) ledger
  *     must swallow the duplicate — this is the real crash-recovery
  *     path, not a hand-driven re-invocation;
  *   - periodic folds ([[graft.operators.Dedup.refreshCorpusLayout]]),
  *     one of them KILLED mid-flight (committed to the bands table
  *     only) and finished by the next fold;
  *   - THRESHOLD-TRIGGERED layout compactions
  *     ([[graft.operators.Dedup.compactCorpusLayout]] at the default
  *     threshold) after every fold — the production maintenance
  *     cadence; the run fails unless the threshold actually fired ≥2
  *     times, so file growth stays bounded across the whole chain
  *     rather than surviving one hand-forced rewrite.
  *
  * Passes iff: zero double admissions across replays, per-epoch
  * admission verdicts exactly as constructed (corpus dups rejected,
  * new-vocab admitted, copies of FOLDED epochs rejected), and the final
  * layout is row-identical to a from-scratch rebuild on
  * corpus + admissions. Prints [soak] wall lines for BASELINE.md — the
  * O(batch) per-epoch claim as measured numbers at 10× the spec corpus.
  *
  * Run: SPARK_DRIVER_MEM=48g sbt "Test/runMain graft.SoakMain /tmp/graft_sf1.0"
  */
object SoakMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1.0")
    val epochs = args.drop(1).headOption.map(_.toInt).getOrElse(24)
    val spark = TestSpark.spark
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val prefix = "graft_soak"
    val tables = Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
    (tables ++ Seq(s"${prefix}_rb_bands", s"${prefix}_rb_hashes", s"${prefix}_rb_grams"))
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val crawlPool = docs.filter(col("doc_id") % 5 === 0).localCheckpoint()
    val t0 = System.nanoTime()
    graft.operators.Dedup.writeCorpusDedupLayout(corpus, prefix)
    println(f"[soak] layout build: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
      s"(corpus ${corpus.count()} docs)")

    // ---- crawl construction: per epoch e (1-based) --------------------
    //   dup slice    — raw corpus docs under fresh ids (always rejected);
    //   fresh slice  — epoch-unique vocabulary (always admitted);
    //   echo slice   — copies of an EARLIER epoch's fresh slice under
    //                  fresh ids: the cascade judges against the
    //                  STANDING layout only, so an echo is rejected iff
    //                  its source epoch was FOLDED before the echo's
    //                  epoch ran. Folds run at the two injected crashes
    //                  (after engine batches 5 and 13, i.e. files 6 and
    //                  14), so echoes are planted only where rejection
    //                  is provable: files 7–10 echo files 3–6 (folded by
    //                  crash 1), files 15–18 echo files 11–14 (crash 2).
    val foldEvery = 4
    def vocab(e: Int, dfIn: DataFrame): DataFrame = dfIn.select(
      col("doc_id"),
      array_join(transform(split(col("text"), " "),
        w => concat(lit(s"e${e}v"), w)), " ").as("text"),
      col("source"), col("n_chars"))
    def freshIds(dfIn: DataFrame, base: Long): DataFrame = dfIn.select(
      (col("doc_id") + base).as("doc_id"),
      col("text"), col("source"), col("n_chars"))
    def freshSlice(e: Int): DataFrame =
      freshIds(vocab(e, crawlPool.filter(col("doc_id") % epochs === (e - 1))),
        100000000L + e * 1000000L)
    def epochDf(e: Int): DataFrame = {
      // dup slice copies CORPUS docs — the standing layout's members —
      // so stage-1 exact-md5 rejection is guaranteed from epoch 1 (the
      // crawl POOL is deliberately NOT part of the standing corpus; a
      // copy of a pool doc would be a genuinely new text and admitted).
      val dup = freshIds(corpus.filter(col("doc_id") % 17 === (e % 17)),
        200000000L + e * 1000000L)
      val echoes = (e >= 7 && e <= 10) || (e >= 15 && e <= 18)
      val echo = if (!echoes) spark.emptyDataset[(Long, String, String, Long)]
        .toDF("doc_id", "text", "source", "n_chars")
      else freshIds(freshSlice(e - foldEvery), 300000000L)
      freshSlice(e).unionByName(dup).unionByName(echo)
    }

    // Stage each epoch as ONE parquet file in the stream source dir —
    // maxFilesPerTrigger=1 makes file k micro-batch k, deterministically.
    val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val srcDir = s"$base/crawl"
    val ckpt = s"$base/ckpt"
    val admitted = s"$base/admitted"
    new java.io.File(srcDir).mkdirs()
    val expectedFresh = scala.collection.mutable.Map.empty[Int, Set[Long]]
    (1 to epochs).foreach { e =>
      val df = epochDf(e)
      df.coalesce(1).write.parquet(s"$base/stage/e$e")
      val f = new java.io.File(s"$base/stage/e$e").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath,
        new java.io.File(srcDir, f"crawl-$e%03d.parquet").toPath)
      expectedFresh(e) = freshSlice(e).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }
    println(s"[soak] staged $epochs epoch files " +
      s"(${spark.read.parquet(srcDir).count()} crawl rows)")

    // ---- the engine loop ----------------------------------------------
    // The sink commits through the ledger, then CRASHES the query on the
    // chosen epochs (after commit — the worst-case replay window). The
    // driver loop restarts the stream; the engine replays the epoch from
    // its checkpoint; the ledger must skip it.
    val crashEpochs = Set(5L, 13L) // engine batchIds are 0-based: epochs 6, 14
    var crashed = scala.collection.mutable.Set.empty[Long]
    val baseSink = graft.operators.Dedup
      .streamingIncrementalDedupSink(prefix, admitted, "soakapp")
    val epochWalls = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long)]
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val t = System.nanoTime()
      baseSink(df, id)
      val w = (System.nanoTime() - t) / 1e9
      epochWalls += ((id, w, df.count()))
      if (crashEpochs.contains(id) && !crashed.contains(id)) {
        crashed += id
        throw new RuntimeException(s"[soak] injected crash after epoch-$id commit")
      }
    }
    def startStream() = spark.readStream
      .schema("doc_id LONG, text STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(sink)
      .start()

    val textStore = docs.select(col("doc_id"), col("text")).unionByName(
      (1 to epochs).map(e => freshSlice(e).select(col("doc_id"), col("text")))
        .reduce(_ unionByName _)).localCheckpoint()
    // Threshold-triggered compaction rides the fold cadence (r13
    // verdict item 4): every fold is followed by a compactCorpusLayout
    // call at the DEFAULT threshold — it rewrites only when a table
    // actually crossed maxFilesPerBucket, so across the chain
    // the file count stays bounded by the threshold instead of growing
    // one file-generation per fold. The soak passes only if the
    // threshold fired at least twice — proving the trigger fires on
    // production cadence, not just under a hand-forced rewrite.
    var thresholdFires = 0
    def maybeCompact(label: String): Unit = {
      val t = System.nanoTime()
      val r = graft.operators.Dedup.compactCorpusLayout(spark, prefix)
      if (r.nonEmpty) {
        thresholdFires += 1
        println(f"[soak] threshold compaction ($label): ${
          (System.nanoTime() - t) / 1e9}%.2f s — " +
          r.map { case (t2, (b, a)) => s"$t2 $b->$a files" }.mkString(", "))
      } else println(s"[soak] threshold compaction ($label): under threshold, no-op")
    }
    def fold(label: String): Unit = {
      val t = System.nanoTime()
      val r = graft.operators.Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore)
      println(f"[soak] fold $label: ${(System.nanoTime() - t) / 1e9}%.2f s " +
        s"(folded through $r)")
      maybeCompact(label)
    }

    // Drive: run the stream; on injected crash, fold + restart (the
    // recovering-service pattern — maintenance runs while ingest is
    // down). processAllAvailable throws the foreachBatch error through.
    val tAll = System.nanoTime()
    var q = startStream()
    var restarts = 0
    def distinctBatches: Int = epochWalls.map(_._1).distinct.size
    while (distinctBatches < epochs || q.isActive) {
      try {
        q.processAllAvailable()
        if (distinctBatches >= epochs) q.stop()
        else if (!q.isActive) { restarts += 1; q = startStream() }
      } catch { case _: Throwable =>
        try q.stop() catch { case _: Throwable => () }
        restarts += 1
        fold(s"after-crash-$restarts")
        q = startStream()
      }
    }
    // folds at a production-ish cadence happened at crashes (each
    // followed by its threshold-compaction check); run the remaining
    // chain: a steady fold, a KILLED fold, recovery.
    fold("steady")

    // Killed fold on a synthetic late admission: admit one more tiny
    // epoch OUTSIDE the stream, fold it into the bands table only, die.
    val late = freshIds(vocab(999, crawlPool.filter(col("doc_id") % 31 === 0)),
      500000000L).localCheckpoint() // id band disjoint from fresh/dup/echo
    baseSink(late, 1000L)
    val lateStore = textStore.unionByName(late.select(col("doc_id"), col("text")))
    require(graft.operators.Dedup.foldInto(spark, prefix,
      graft.operators.Dedup.LayoutTables.take(1), admitted, lateStore, 3, 8, 4).nonEmpty,
      "killed fold committed nothing")
    println("[soak] fold killed after its bands commit")
    val t2 = System.nanoTime()
    val rec = graft.operators.Dedup.refreshCorpusLayout(spark, prefix, admitted, lateStore)
    println(f"[soak] torn-recovery fold: ${(System.nanoTime() - t2) / 1e9}%.2f s " +
      s"(folded through $rec)")
    require(rec.nonEmpty, "recovery fold was a no-op")
    maybeCompact("post-recovery")
    def layoutPath(t: String) = graft.Ddl.warehousePath(spark, t)
    println("[soak] final layout files: " + tables.map { t =>
      val v = graft.sources.Versioned.currentVersion(spark, layoutPath(t))
      s"$t=${graft.sources.Versioned.fileCount(spark, layoutPath(t), v)}"
    }.mkString(", "))
    val wallAll = (System.nanoTime() - tAll) / 1e9

    // ---- verdicts -------------------------------------------------------
    var fails = 0
    def check(name: String, ok: Boolean, detail: => String): Unit = {
      println(s"[soak] ${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else ": " + detail}")
      if (!ok) fails += 1
    }
    val admittedRows = graft.sources.Versioned.read(spark, admitted)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    check("exactly-once across injected replays",
      admittedRows.size == admittedRows.toSet.size,
      s"${admittedRows.size - admittedRows.toSet.size} double admissions")
    check(s"forced replays happened (2 crashes, >=2 restarts)",
      crashed.size == 2 && restarts >= 2, s"crashed=$crashed restarts=$restarts")
    check("threshold compaction fired >= 2x on the fold cadence",
      thresholdFires >= 2, s"fired only $thresholdFires time(s)")
    val admittedSet = admittedRows.toSet
    val expectAdmit = expectedFresh.values.flatten.toSet ++
      late.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    check("admissions = fresh slices exactly (dups + folded echoes rejected)",
      admittedSet == expectAdmit,
      s"missing=${(expectAdmit -- admittedSet).take(5)} " +
        s"extra=${(admittedSet -- expectAdmit).take(5)}")
    // fold ≡ rebuild, order-independent checksum per layout table.
    def sig(t: String): (BigDecimal, Long) = {
      val r = graft.sources.Versioned.read(spark, layoutPath(t))
      // decimal(38) sum: exact, order-independent, and immune to the
      // ANSI long-overflow a plain sum of 64-bit hashes hits at scale.
      val row = r.select(xxhash64(to_json(struct(
          r.columns.sorted.toIndexedSeq.map(col): _*)))
        .cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")), count(lit(1))).collect()(0)
      (BigDecimal(row.getDecimal(0)), row.getLong(1))
    }
    val admittedTexts = graft.sources.Versioned.read(spark, admitted)
      .select(col("doc_id")).join(lateStore, Seq("doc_id"))
    graft.operators.Dedup.writeCorpusDedupLayout(
      corpus.select(col("doc_id"), col("text")).unionByName(admittedTexts),
      s"${prefix}_rb")
    tables.foreach { t =>
      val rbT = t.replace(prefix, s"${prefix}_rb")
      check(s"fold ≡ rebuild: $t", sig(t) == sig(rbT),
        s"${sig(t)} vs ${sig(rbT)}")
    }
    val walls = epochWalls.map(_._2)
    println(f"[soak] ${epochWalls.size} sink invocations over $epochs epochs, " +
      f"wall total ${wallAll}%.1f s; per-epoch p50 ${
        walls.sorted.apply(walls.size / 2)}%.2f s max ${walls.max}%.2f s")
    epochWalls.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (id, ws) =>
      if (ws.size > 1) println(f"[soak] epoch $id ran ${ws.size}x (replay) — " +
        ws.map(w => f"${w._2}%.2f s").mkString(", "))
    }
    println(s"[soak] ${if (fails == 0) "ALL PASS" else s"$fails FAILURES"}")
    (tables ++ tables.map(t => t.replace(prefix, s"${prefix}_rb"))).foreach(
      t => graft.Ddl.dropManagedTable(spark, t))
    spark.stop()
    if (fails > 0) sys.exit(1)
  }
}
