package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface: how graft tables get on and off disk.
  *
  * The reference reads/writes its own heap pages + WAL
  * (andb/storage/engines/heap/relation.py); on Spark the durable layer is
  * columnar files + layout, and the "access methods" are:
  *
  *   - plain parquet        — columnar scan, pushdown, pruning (Tables)
  *   - partitioned parquet  — directory layout = coarse index: equality/
  *                            range filters on partition columns prune
  *                            whole directories before any I/O
  *   - bucketed tables      — pre-shuffled layout: a join/agg on the
  *                            bucket key needs NO exchange at read time;
  *                            at 100 TB this converts every recurring
  *                            fact-fact join on the same key from a
  *                            full-table shuffle into local merges
  *
  * All writers take explicit paths/tables and overwrite idempotently —
  * re-running a round never double-appends.
  */
object Io {

  // ---- sinks ----------------------------------------------------------

  /** Hive-style partitioned parquet: one directory per distinct value
    * tuple. Keep partition columns low-cardinality (date, type, lang). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table (requires a catalog table, not a bare path).
    * `buckets` should match the downstream join parallelism. Multi-key
    * bucketing — e.g. an LSH band table bucketed by (band, bucket-value)
    * — lets band-bucket joins and probes read pre-shuffled data. Join
    * keys must cover the bucket keys exactly for the exchange to be
    * elided. */
  def writeBucketedBy(df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)

  /** An append is MAINTENANCE of a standing table, never its creation
    * (that is [[writeBucketedBy]]'s job) — but `SaveMode.Append` +
    * `saveAsTable` happily CREATEs a missing table. After a compaction
    * crash in the DROP→RENAME window the standing table has no catalog
    * entry, and an append that silently recreates it with only the
    * delta rows turns a recoverable torn swap into silent data loss:
    * the next [[finishTornCompaction]] sees shadow + live "original"
    * and drops the shadow holding the entire standing corpus (r13
    * advice). Fail loud instead — the caller recovers the swap first. */
  private def requireStanding(spark: SparkSession, table: String): Unit =
    require(spark.catalog.tableExists(table),
      s"append to '$table': table does not exist — appends never create " +
        "(a missing standing table usually means a torn compaction swap; " +
        "run Io.finishTornCompaction first, then retry)")

  /** Append a batch to a standing bucketed table — the incremental-
    * maintenance write: new bucket files land beside the old ones (per
    * bucket id), standing files are never rewritten, and a reader's
    * bucket pruning / exchange elision sees old + new files of each
    * bucket alike. Spark validates the (keys, buckets) spec against the
    * catalog entry, so a mismatched append fails loud instead of
    * silently corrupting the layout; a MISSING table also fails loud
    * (see [[requireStanding]]) instead of being silently created with
    * only the batch's rows. */
  def appendBucketedBy(df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit = {
    requireStanding(df.sparkSession, table)
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  // ---- sources --------------------------------------------------------

  /** The schema a parquet read of `df` written with `partitionCols`
    * gives back: every column nullable, partition columns last. A reader
    * handed this schema skips footer inference, which is a Spark job. */
  def readBackSchema(df: DataFrame, partitionCols: Seq[String]): StructType = {
    val (parts, data) = df.schema.fields.partition(f => partitionCols.contains(f.name))
    StructType((data ++ parts).map(_.copy(nullable = true)))
  }

  /** Raw-file ingest for the multimodal pipeline: Spark's `binaryFile`
    * source reads whole files as rows of (path, modificationTime, length,
    * content BINARY) — the standard way image/audio/video corpora enter a
    * lakehouse before being repacked into parquet binary columns
    * (Multimodal.fromBinaryFiles does the repack). `pathGlobFilter` prunes
    * by extension at LISTING time, so non-matching files are never opened;
    * at 100 TB ingest the listing itself is distributed by Spark's
    * InMemoryFileIndex. Files above `spark.sql.sources.binaryFile.maxLength`
    * fail fast rather than OOM a task — lower it deliberately when a
    * corpus may contain outlier blobs. */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  // ---- standing bucketed-layout compaction (r13) ------------------------
  //
  // [[appendBucketedBy]] is the incremental-maintenance WRITE; this is
  // the maintenance half it makes necessary: every fold/append lands new
  // files BESIDE the standing ones (per bucket id), so at production
  // cadence the hot read path accumulates small files without bound —
  // listing cost, task-scheduling overhead, and row-group fragmentation
  // degrade the probe long before 100 TB. Compaction rewrites the layout
  // to size-bounded files while preserving the TWO properties the layout
  // exists for: the catalog bucket spec (exchange elision) and row
  // content (byte-identical probe results). AnnIndexSpec asserts both
  // post-compaction.
  //
  // Crash-safety contract (same single-maintainer model as the fold
  // itself — one maintenance job at a time, crash recovery supported):
  // a table compacts via a __compact shadow table + catalog rename;
  // [[finishTornCompaction]] rolls an interrupted swap forward (orig
  // dropped → rename shadow in) or back (both present → drop shadow) and
  // is called automatically on entry.

  private def tableMeta(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))

  /** (data file count, data bytes) under `dir`, recursively — `part-*`
    * files only, so commit markers and staging dirs never count. */
  private def dataFileStats(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path): (Int, Long) = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (0, 0L)
    val it = fs.listFiles(dir, true)
    var n = 0; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Data-file count of a catalog table's location (spec/test surface). */
  def tableFileCount(spark: SparkSession, table: String): Int =
    dataFileStats(spark,
      new org.apache.hadoop.fs.Path(tableMeta(spark, table).location))._1

  /** Recover an interrupted [[compactBucketedTable]] swap: the shadow
    * table is complete before the swap starts, so an orphaned shadow
    * with the original gone rolls FORWARD (rename in), a shadow beside
    * a live original rolls BACK (drop shadow — the next compaction just
    * re-runs), and a shadow DIRECTORY with no catalog entry (a crash
    * inside saveAsTable) is deleted so the rewrite can start clean. */
  def finishTornCompaction(spark: SparkSession, table: String): Unit = {
    val shadow = s"${table}__compact"
    val hasShadow = spark.catalog.tableExists(shadow)
    val hasOrig = spark.catalog.tableExists(table)
    if (hasShadow && !hasOrig)
      spark.sql(s"ALTER TABLE `$shadow` RENAME TO `$table`")
    else if (hasShadow && hasOrig)
      spark.sql(s"DROP TABLE `$shadow`")
    else if (!hasShadow) {
      // no catalog entry — clear any orphaned directory from a crash
      // inside the shadow write itself (job output is not yet a table).
      val dir = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(shadow)))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
  }

  /** Compact an UNPARTITIONED bucketed table in place when its file
    * count exceeds `maxFilesPerBucket` per bucket. The rewrite reads the
    * standing table once, coalesces to ceil(bytes / targetFileBytes)
    * tasks (NO exchange — compaction is an I/O rewrite, not a shuffle),
    * and writes a shadow table under the SAME bucket spec read from the
    * catalog, then swaps it in by rename. Each write task emits one file
    * per bucket id it holds, so the result is ≤ tasks × buckets files —
    * at the one-task floor, exactly `buckets` files, the layout minimum.
    * Returns (filesBefore, filesAfter), or None when under threshold. */
  def compactBucketedTable(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerBucket: Int = 2): Option[(Int, Int)] = {
    finishTornCompaction(spark, table)
    val meta = tableMeta(spark, table)
    val spec = meta.bucketSpec.getOrElse(sys.error(
      s"compactBucketedTable($table): not a bucketed table"))
    val (files, bytes) =
      dataFileStats(spark, new org.apache.hadoop.fs.Path(meta.location))
    if (files <= maxFilesPerBucket * spec.numBuckets) return None
    val shadow = s"${table}__compact"
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val keys = spec.bucketColumnNames
    val w = spark.table(table).coalesce(n).write
      .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
    val ws = if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*) else w
    ws.format("parquet").saveAsTable(shadow)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$shadow` RENAME TO `$table`")
    Some((files, tableFileCount(spark, table)))
  }

  /** Morton (Z-order) interleave of two ≤`bits`-bit non-negative longs:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Bits never
    * overlap, so the additive reduce IS the bitwise OR, and the whole
    * expression stays inside whole-stage codegen. */
  def interleaveBits(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Z-order-clustered parquet: rows are range-partitioned and sorted by
    * the Morton interleave of the two columns' min-max-scaled ranks, so
    * every output file covers a small RECTANGLE in (a, b) space instead of
    * a thin stripe. Result: parquet min/max stats (and any file-level
    * pruning) are selective on EITHER column — the multi-dimensional
    * clustered-index analog of the reference's secondary B+-tree indexes
    * (andb/storage/engines/heap/relation.py), where a single-key sort
    * only ever serves one of them. The scaling stats ride a broadcast
    * 1-row aggregate — no collect, no extra pass over the data beyond the
    * one aggregate. IoSpec asserts the pruning property from the written
    * files' own stats. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int, bits: Int = 12): Unit = {
    val stats = df.agg(
      min(col(colA)).cast("double").as("__mina"), max(col(colA)).cast("double").as("__maxa"),
      min(col(colB)).cast("double").as("__minb"), max(col(colB)).cast("double").as("__maxb"))
    def scaled(c: Column, lo: Column, hi: Column): Column =
      least(lit((1L << bits) - 1), floor(
        (c.cast("double") - lo) / (hi - lo + lit(1e-12)) * lit(1L << bits))).cast("long")
    df.crossJoin(broadcast(stats))
      .withColumn("__z", interleaveBits(
        scaled(col(colA), col("__mina"), col("__maxa")),
        scaled(col(colB), col("__minb"), col("__maxb")), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z", "__mina", "__maxa", "__minb", "__maxb")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
