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
    * `saveAsTable` happily CREATEs a missing table. The standing table
    * is an index over a whole corpus; an append that created it would
    * publish an index holding only the batch, and every probe of it
    * would silently miss the rest. Fail loud instead. */
  private def requireStanding(spark: SparkSession, table: String): Unit =
    require(spark.catalog.tableExists(table),
      s"append to '$table': table does not exist — appends never create it, " +
        "because a table created by an append would hold only the batch; " +
        "write the whole table with Io.writeBucketedBy first")

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
