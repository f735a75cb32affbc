package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures what compaction BUYS, not just what it preserves (r13
  * verdict item 4): r13 proved the invariants (files shrink, probe
  * bytes identical, exactly-once intact) but never recorded the
  * read-path payoff that motivates the feature. This main builds the
  * standing dedup layout at the given SF, fragments it with N
  * production folds (each lands a file generation beside the standing
  * ones), then measures the layout's THREE costs fragmented vs
  * compacted:
  *
  *   - file-listing wall — a recursive FS listing of the three table
  *     roots (the planning-time cost every query pays after a cache
  *     drop; at object-store latencies this is the cost that kills
  *     fragmented layouts first);
  *   - d13 probe wall — cold (first probe after refreshTable: includes
  *     file-index rebuild) and warm (min of 3; steady-state scan cost
  *     over many small row-groups vs few right-sized ones);
  *   - fold wall — one more admit + fold on each layout state (the
  *     maintenance write's own sensitivity to standing file count).
  *
  * The compaction runs at the DEFAULT threshold — the same call the
  * soak makes on its fold cadence — so the leg also demonstrates the
  * threshold firing on organically fragmented state. Prints [payoff]
  * lines for BASELINE.md.
  *
  * Run: SPARK_DRIVER_MEM=48g sbt "Test/runMain graft.CompactPayoffMain /tmp/graft_sf1.0 20"
  */
object CompactPayoffMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1.0")
    val folds = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("WARN")
    val prefix = "graft_payoff"
    val tables = Seq(s"${prefix}_bands", s"${prefix}_hashes", s"${prefix}_grams")
    (tables ++ tables.map(_ + "__compact"))
      .foreach(t => graft.Ddl.dropManagedTable(spark, t))

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val pool = docs.filter(col("doc_id") % 5 === 0).localCheckpoint()
    var t0 = System.nanoTime()
    graft.operators.Dedup.writeCorpusDedupLayout(corpus, prefix)
    println(f"[payoff] layout build: ${(System.nanoTime() - t0) / 1e9}%.2f s")

    val base = java.nio.file.Files.createTempDirectory("graft-payoff").toString
    val admitted = s"$base/admitted"
    val sink = graft.operators.Dedup
      .streamingIncrementalDedupSink(prefix, admitted, "payoffapp")
    // Per-fold slice: epoch-unique vocabulary under fresh ids, the soak
    // construction — every slice admits in full and folds. folds+2
    // slices are staged: the last two fragment-vs-compacted fold legs.
    def slice(e: Int): DataFrame = pool
      .filter(col("doc_id") % (folds + 2) === (e - 1) % (folds + 2))
      .select((col("doc_id") + 100000000L + e * 1000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit(s"e${e}v"), w)), " ").as("text"),
        col("source"), col("n_chars"))
    var textStore = docs.select(col("doc_id"), col("text"))
    def admitAndTrack(e: Int): Unit = {
      sink(slice(e), e.toLong)
      textStore = textStore.unionByName(slice(e).select(col("doc_id"), col("text")))
    }

    t0 = System.nanoTime()
    (1 to folds).foreach { e =>
      admitAndTrack(e)
      val r = graft.operators.Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore)
      require(r.nonEmpty, s"fold $e was a no-op")
    }
    println(f"[payoff] $folds admit+fold rounds: ${(System.nanoTime() - t0) / 1e9}%.2f s")

    def files(): Map[String, Int] =
      tables.map(t => t -> graft.sources.Io.tableFileCount(spark, t)).toMap
    def listingWall(): Double = {
      val hc = spark.sparkContext.hadoopConfiguration
      val t = System.nanoTime()
      var n = 0
      tables.foreach { tb =>
        val p = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(tb)).location)
        val it = p.getFileSystem(hc).listFiles(p, true)
        while (it.hasNext) { it.next(); n += 1 }
      }
      (System.nanoTime() - t) / 1e9
    }
    // Probe batch: fixed new-vocab slice — exercises the full cascade
    // (md5 anti-join, bucketed band join, gram verify) on every call.
    val probeBatch = pool.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(lit("pv"), w)), " ").as("text"),
        col("source"), col("n_chars"))
      .localCheckpoint()
    def probeWall(): Double = {
      val t = System.nanoTime()
      graft.operators.Dedup.incrementalDedupOnLayout(spark, prefix, probeBatch)
        .queryExecution.toRdd.count()
      (System.nanoTime() - t) / 1e9
    }
    def measure(state: String, foldEpoch: Int): Unit = {
      val f = files()
      val lw = listingWall()
      tables.foreach(t => spark.catalog.refreshTable(t))
      val cold = probeWall()
      val warm = (1 to 3).map(_ => probeWall()).min
      admitAndTrack(foldEpoch)
      val t = System.nanoTime()
      val r = graft.operators.Dedup.refreshCorpusLayout(spark, prefix, admitted, textStore)
      val fw = (System.nanoTime() - t) / 1e9
      require(r.nonEmpty, s"measurement fold $foldEpoch was a no-op")
      println(f"[payoff] $state: files ${f.values.sum} (${
        f.map { case (k, v) => s"${k.stripPrefix(prefix + "_")}=$v" }.mkString(",")}) " +
        f"listing ${lw}%.3f s  probe cold ${cold}%.2f s warm ${warm}%.2f s  " +
        f"fold ${fw}%.2f s")
    }

    measure("fragmented", folds + 1)
    t0 = System.nanoTime()
    val cmp = graft.operators.Dedup.compactCorpusLayout(spark, prefix)
    println(f"[payoff] compaction (default threshold): ${
      (System.nanoTime() - t0) / 1e9}%.2f s — " +
      (if (cmp.isEmpty) "UNDER THRESHOLD (nothing rewritten!)"
       else cmp.map { case (t, (b, a)) => s"$t $b->$a files" }.mkString(", ")))
    measure("compacted", folds + 2)

    tables.foreach(t => graft.Ddl.dropManagedTable(spark, t))
    spark.stop()
  }
}
