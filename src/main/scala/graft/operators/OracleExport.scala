package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Shared plumbing for the "model fed to the oracle as a table" pattern
  * (t17/Bpe's judge-sanctioned design, factored for reuse): an operator
  * whose MODEL state is engine-specific but DETERMINISTIC (LSH
  * hyperplane signatures, IVF centroids, SimHash sketches, MinHash band
  * signatures) exports that state as a small parquet table partitioned
  * by a corpus fingerprint BOTH engines can compute; the DuckDB oracle
  * then re-derives the operator's full answer — candidate generation,
  * pruning rule, ranking, re-rank — from the exported state plus the
  * raw tables, independently. What stays engine-pinned (ScalaTest
  * property suites) shrinks to the hash/training kernel itself; what
  * becomes oracle-checked is everything the operator DOES with it,
  * which is where the algorithmic bugs live.
  *
  * Partition-by-fingerprint + dynamic overwrite keeps concurrent
  * corpora (Verify at sf0.01, Bench warm-up at sf0.001 then sf0.1)
  * from clobbering each other's model mid-compare — same rationale as
  * Bpe.ModelExportPath. The [[writeOnce]] memo makes re-invocations
  * (bench reps, multi-query sharing) free: exports are pure functions
  * of (corpus, geometry), so the first write is the only write. */
object OracleExport {

  /** Per-PROCESS export root: two concurrent JVMs on the same box (a
    * test run racing a bench run) must never overwrite each other's
    * partitions mid-compare — the writeOnce memo is per-JVM, so a fixed
    * shared path let process B's mode=overwrite rewrite race process
    * A's DuckDB read. Every oracle-SQL string is built in the SAME JVM
    * that writes the export (Verify dumps both), so the scoped path is
    * consistent end-to-end. Roots from past runs age out below. */
  private val Root: String = {
    val base = java.nio.file.Paths.get("/tmp/graft_exports")
    try { // courtesy sweep: roots older than 24 h are dead runs
      if (java.nio.file.Files.isDirectory(base)) {
        val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        val it = java.nio.file.Files.list(base).iterator()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
        }
      }
    } catch {
      case NonFatal(e) => System.err.println(s"[export] sweep of $base failed: $e")
    }
    // GRAFT_EXPORT_ROOT pins the root across processes — the multi-step
    // scale-gate workflow (full Verify, then targeted re-compares in
    // later processes) needs later runs to read/write the SAME export
    // tree the full run's oracle_sql.json references. Unset = the
    // per-process default (isolated concurrent runs can't collide).
    sys.env.getOrElse("GRAFT_EXPORT_ROOT",
      s"$base/${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID().toString.take(8)}")
  }

  val LshSigPath = s"$Root/lsh_sigs.parquet"
  val IvfCentPath = s"$Root/ivf_cents.parquet"
  val SimHashPath = s"$Root/simhash_sigs.parquet"
  val MinHashBandPath = s"$Root/minhash_bands.parquet"
  val SemCellPath = s"$Root/semdedup_cells.parquet"
  val PqBookPath = s"$Root/pq_books.parquet"
  val SampleBucketPath = s"$Root/sample_buckets.parquet"
  val BandSweepPath = s"$Root/band_sweep.parquet"
  val PhashPath = s"$Root/phash_sigs.parquet"
  val FramePath = s"$Root/frame_table.parquet"
  val MediaFeatPath = s"$Root/media_feats.parquet"
  val SpectralPath = s"$Root/spectral_feats.parquet"
  val PatchPath = s"$Root/patch_feats.parquet"
  val SketchPath = s"$Root/q33_sketches.parquet"
  val PackAllocPath = s"$Root/pack_alloc.parquet"
  val QuantSketchPath = s"$Root/quant_sketch.parquet"
  // _v2: the export schema changed (vec_id, sig) → (vec_id, s1, s2) in
  // round 9; under a pinned GRAFT_EXPORT_ROOT a stale pre-r9 partition
  // at the old path would give readSql a mixed-schema read_parquet and
  // fail the d05/d26 oracles. Schema changes version the PATH.
  val EmbLshSigsPath = s"$Root/emb_lsh_sigs_v2.parquet"

  private val done = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Export `df` under `path` for fingerprint `key` — once per
    * (path, key) per process. repartition(1), NOT coalesce(1): every
    * export here is a model/signature table (≤ corpus rows, narrow),
    * so one file reads fastest on the oracle side — but coalesce
    * erases the upstream parallelism too, pulling the whole export
    * computation into a single task (measured: m04's 50k-row spectral
    * export at sf1.0 ran its per-doc decode+FFT pass single-threaded —
    * 8.6 s of a 14.9 s one-rep bench row). The repartition exchange
    * moves only the narrow export rows; the expensive per-row kernels
    * keep scan parallelism. */
  def writeOnce(df: => DataFrame, path: String, key: String): Unit =
    if (done.add((path, key))) {
      // The memo marks SUCCESS, not attempts: a failed export must be
      // retried on the next invocation, or every later oracle compare
      // for this corpus would see a missing partition and misreport a
      // value mismatch.
      try df.withColumn("corpus_key", lit(key))
        .repartition(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("corpus_key").parquet(path)
      catch { case e: Throwable => done.remove((path, key)); throw e }
    }

  /** Fingerprint of an embeddings corpus: "<n>_<Σvec_id>_<Σ⌊emb₁·10⁶⌋>"
    * — recomputable by the oracle from its own `embeddings` view
    * ([[embKeySql]]). The third term is CONTENT-sensitive: the driver's
    * sf0.001 and sf0.01 embeddings tables share (n, Σvec_id) = (500,
    * 124750) with different vectors, and an id-only key let a spec run
    * at one SF silently replace the other SF's export partition mid-
    * compare (caught live in round 6). Both engines compute the term in
    * DOUBLE (float·10⁶ in FLOAT would round differently). */
  def embKey(e: DataFrame): String = {
    val r = e.agg(count(lit(1)), sum(col("vec_id")),
      sum(floor(element_at(col("embedding"), 1).cast("double") * 1000000)
        .cast("long"))).head()
    s"${r.getLong(0)}_${r.getLong(1)}_${r.getLong(2)}"
  }

  private val keyMemo = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** [[embKey]] memoized per corpus directory — the fingerprint scan is
    * tiny but it is still a Spark job per invocation, and the corpora
    * are immutable test fixtures (same justification as the model
    * memos; a mutable-table deployment would fingerprint per snapshot
    * version instead). */
  def embKeyFor(e: DataFrame, dir: String): String =
    keyMemo.computeIfAbsent(("emb", dir), _ => embKey(e))

  def docKeyFor(docs: DataFrame, dir: String): String =
    keyMemo.computeIfAbsent(("doc", dir), _ => docKey(docs))

  val embKeySql: String =
    """(SELECT CAST(count(*) AS VARCHAR) || '_' ||
              CAST(CAST(sum(vec_id) AS BIGINT) AS VARCHAR) || '_' ||
              CAST(CAST(sum(CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS VARCHAR)
       FROM embeddings)"""

  /** Fingerprint of a documents corpus: "<n>_<Σdoc_id>_<Σn_chars>" —
    * the Σn_chars term is the content guard (Bpe.corpusKey's choice);
    * sf0.001/sf0.01 documents also collide on (n, Σdoc_id). */
  def docKey(docs: DataFrame): String = {
    val r = docs.agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).head()
    s"${r.getLong(0)}_${r.getLong(1)}_${r.getLong(2)}"
  }

  /** Fingerprint of a lineitem corpus: "<n>_<Σl_orderkey>_<Σl_partkey>". */
  def lineKey(l: DataFrame): String = {
    val r = l.agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey"))).head()
    s"${r.getLong(0)}_${r.getLong(1)}_${r.getLong(2)}"
  }

  def lineKeyFor(l: DataFrame, dir: String): String =
    keyMemo.computeIfAbsent(("line", dir), _ => lineKey(l))

  val lineKeySql: String =
    """(SELECT CAST(count(*) AS VARCHAR) || '_' ||
              CAST(CAST(sum(l_orderkey) AS BIGINT) AS VARCHAR) || '_' ||
              CAST(CAST(sum(l_partkey) AS BIGINT) AS VARCHAR)
       FROM lineitem)"""

  val docKeySql: String =
    """(SELECT CAST(count(*) AS VARCHAR) || '_' ||
              CAST(CAST(sum(doc_id) AS BIGINT) AS VARCHAR) || '_' ||
              CAST(CAST(sum(n_chars) AS BIGINT) AS VARCHAR)
       FROM documents)"""

  /** DuckDB FROM-clause for an export: all fingerprint partitions, to be
    * filtered by `corpus_key = <keySql>`. */
  def readSql(path: String): String =
    s"read_parquet('$path/*/*.parquet', hive_partitioning = true)"
}
