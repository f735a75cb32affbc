package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.Io
import org.apache.spark.sql.graft.VectorExpressions.{cosine, hyperplaneSig}

/** Persistent ANN index layouts and their probe paths — the at-scale form
  * of v03/v05, where the index is WRITTEN to disk once and a probe is
  * pruned I/O, not a filtered full scan.
  *
  * Reference analog: AnDB's IndexScan path
  * (andb/executor/operator/physical/select.py:192-456) — chosen by its
  * planner when a predicate matches an index — against a B+-tree. On
  * Spark + columnar files the equivalent "index" is data LAYOUT:
  *
  *   - IVF: rows written `partitionBy(cell)` — a probe filters on the
  *     partition column, so directory pruning drops (k - nProbe)/k of
  *     the data before a single byte of I/O. At 100 TB with k=1024 and
  *     nProbe=8 the probe reads <1% of the corpus.
  *   - LSH: the band table bucketed by a single PACKED band key
  *     (band << bandBits | bv). Spark's bucket pruning applies only to
  *     single-column bucket specs, which is exactly why the key is
  *     packed; a probe's `bkey IN (...)` then reads nBands buckets out
  *     of B (the files the executed scan reads), and candidates are
  *     re-ranked by exact cosine via a candidate-sized join back to the
  *     vectors — never a scan of the band table.
  *
  * Both probes are demonstrated (pruning asserted on the executed scans)
  * in AnnIndexSpec; the in-memory query forms v03/v05 share the same
  * assignment/training kernels below.
  */
object AnnIndex {

  /** Map-side argmax cell assignment against the (tiny) centroid model —
    * entirely inside codegen; struct comparison picks max cosine, lower
    * cid on ties (via negated id). */
  def cellOf(vec: Column, cents: Array[Array[Float]]): Column =
    array_max(array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(cosine(vec, lit(c)).as("sim"), lit(-i).as("ncid"))
    }: _*))("ncid") * -1

  /** k-means-lite centroids: seeded from the k lowest-id vectors, then
    * `iters` Lloyd rounds on a BOUNDED deterministic sample (~22%,
    * `vec_id % 37 < 8`) — the spark.ml pattern: model state (k×dim
    * floats) round-trips to the driver, the data never does, and no
    * training pass explodes n×dim rows (per-cell sums reduce whole
    * vectors, combining map-side).
    *
    * The per-cell mean is accumulated in FIXED POINT: each float
    * component is scaled to a Long (×2^24, rint) before the reduce, so
    * the merge is integer addition — associative and commutative
    * bit-for-bit — and the trained model is independent of Spark's
    * merge order. (Double sums are not: last-ulp drift near an argmax
    * boundary can flip a cell assignment and, downstream, a SemDeDup
    * drop decision.) Quantization error ≤ 2^-25 per component per row —
    * noise for a clustering model; determinism is the contract.
    * Headroom: |x| ≤ 2^10 leaves 2^29 rows/cell before Long overflow. */
  def trainCentroids(e: DataFrame, k: Int, iters: Int = 2,
      seedOffset: Int = 0, sampleBand: Int = 0): Array[Array[Float]] = {
    import e.sparkSession.implicits._
    var cents: Array[Array[Float]] = e
      .filter(col("vec_id") >= seedOffset && col("vec_id") < seedOffset + k)
      .orderBy(col("vec_id")).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    // sampleBand picks a disjoint deterministic sample slice so a
    // second model (the two-level fine quantizer) trains on different
    // data with different seeds — decorrelated from the coarse model.
    val lo = sampleBand * 8; val hi = lo + 8
    val sample = e.filter(col("vec_id") % 37 >= lo && col("vec_id") % 37 < hi)
    val Scale = (1L << 24).toDouble
    for (_ <- 1 to iters) {
      val means = sample
        .select(cellOf(col("embedding"), cents), col("embedding"))
        .as[(Int, Array[Float])]
        .map { case (c, v) => (c, v.map(x => math.rint(x.toDouble * Scale).toLong), 1L) }
        .groupByKey(_._1)
        .reduceGroups { (x, y) =>
          val sum = x._2.clone()
          var i = 0
          while (i < sum.length) { sum(i) += y._2(i); i += 1 }
          (x._1, sum, x._3 + y._3)
        }
        .map { case (c, (_, sum, n)) => (c, sum.map(v => (v.toDouble / Scale / n).toFloat)) }
        .collect().toMap
      cents = cents.indices.map(c => means.getOrElse(c, cents(c))).toArray
    }
    cents
  }

  /** Cell count that keeps E[cell size] ≈ targetCellSize as the corpus
    * grows — the SemDeDup scaling contract: with k = ⌈n / target⌉ the
    * within-cell pair work Σ n_c² ≈ n·target stays LINEAR in n, and a
    * join keyed by cell has n/target distinct keys, so reducer
    * parallelism grows with the data instead of being pinned at a
    * constant. */
  def cellCount(n: Long, targetCellSize: Int = 32): Int =
    math.max(1, math.ceil(n.toDouble / targetCellSize)).toInt

  /** Above this cell count, a single flat centroid table stops being
    * "model state": brute-force argmax assignment is O(k·dim) per row
    * and the driver holds k×dim floats — with k ∝ n that is quadratic
    * total assignment work and linear driver state, the exact failure
    * the k-derivation escaped in the pair join. 1024 ↔ (at the E[cell]=32
    * contract) a ~32k-vector corpus: at that point flat assignment costs
    * 1024 cosines/row where the two-level path costs 2·√1024 = 64 — a 16×
    * gap that only widens with n, so the switch belongs well before the
    * driver's model state (k×dim floats) is anywhere near a concern. */
  val MaxSingleLevelCells: Int = 1024

  /** Cell model for SemDeDup-scale assignment: flat k-means up to
    * [[MaxSingleLevelCells]]; beyond that, TWO-LEVEL (coarse × fine) —
    * cell id = coarse·|fine| + fine, with the two quantizers trained on
    * disjoint sample slices with disjoint seeds (decorrelated, so the
    * product reaches ≈ k distinct cells). Per-row assignment cost and
    * driver model state drop from O(k) to O(√k): at n = 10⁹ vectors
    * (k ≈ 3×10⁷) that is ~11k centroid comparisons/row and ~3 MB of
    * model instead of 3×10⁷ and ~8 GB. Same recall posture as flat
    * k-means at equal k: equal vectors always share a cell (argmax of
    * identical inputs), near-pairs can split across either level — the
    * SemDeDup paper's accepted trade, documented at v11. */
  final case class CellModel(coarse: Array[Array[Float]],
      fine: Option[Array[Array[Float]]]) {
    def cells: Int = coarse.length * fine.map(_.length).getOrElse(1)
  }

  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), CellModel]()

  /** Memoized [[trainCellModel]] keyed by (corpus dir, k). The model is a
    * pure function of its inputs — deterministic seeds + fixed-point sums
    * make training merge-order-insensitive — so retraining on every
    * invocation over the same immutable corpus is pure repeated work; this
    * is the same per-directory model cache t17 uses for its BPE merges.
    * In a long-lived cluster app the model would be trained once and
    * broadcast; the memo is the single-JVM form of that lifecycle. */
  def cellModelFor(e: DataFrame, dir: String, k: Int): CellModel =
    modelMemo.computeIfAbsent((dir, k), _ => trainCellModel(e, k))

  def trainCellModel(e: DataFrame, k: Int,
      maxSingle: Int = MaxSingleLevelCells): CellModel =
    if (k <= maxSingle) CellModel(trainCentroids(e, k), None)
    else {
      val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
      val k2 = math.ceil(k.toDouble / k1).toInt
      CellModel(trainCentroids(e, k1),
        Some(trainCentroids(e, k2, seedOffset = k1, sampleBand = 1)))
    }

  /** Map-side assignment against a [[CellModel]] — one or two codegen'd
    * argmax passes, never a shuffle. */
  def cellOfModel(vec: Column, m: CellModel): Column = m.fine match {
    case None => cellOf(vec, m.coarse)
    case Some(f) => cellOf(vec, m.coarse) * f.length + cellOf(vec, f)
  }

  /** Driver-side cosine over the model (qv vs a centroid). */
  def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dp / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The query's nProbe best cells, chosen on the driver from the model
    * alone — no data pass. */
  def probeCells(qv: Array[Float], cents: Array[Array[Float]], nProbe: Int): Seq[Int] =
    cents.indices.sortBy(i => (-cosLocal(qv, cents(i)), i)).take(nProbe)

  // ---- IVF persistent layout ------------------------------------------

  /** Write the vectors partitioned by IVF cell: one directory per cell,
    * so a probe's equality/IN filter on `cell` is directory pruning.
    * Returns the layout's read-back schema, which a probe can pass to
    * [[probeIvf]] instead of inferring it from footers. */
  def writeIvf(e: DataFrame, cents: Array[Array[Float]], path: String,
      mode: String = "overwrite"): StructType = {
    val layout = e.withColumn("cell", cellOf(col("embedding"), cents))
    Io.writePartitioned(layout, path, Seq("cell"), mode)
    Io.readBackSchema(layout, Seq("cell"))
  }

  /** Probe the written IVF layout: filter to the query's nProbe cells
    * (partition-pruned I/O — asserted in AnnIndexSpec), exact cosine on
    * the survivors, distributed top-k. With the layout's `schema` the
    * read runs no footer-inference job. */
  def probeIvf(spark: SparkSession, path: String, qv: Array[Float],
      cents: Array[Array[Float]], nProbe: Int, k: Int,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
      .filter(col("cell").isin(probeCells(qv, cents, nProbe): _*))
      .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)

  /** INCREMENTAL index maintenance — the d13 story for ANN: a new batch
    * of vectors joins the standing IVF layout WITHOUT retraining or
    * rewriting it. The centroids are frozen model state (the quantizer's
    * contract — retraining would move every cell boundary and demand a
    * full rebuild), the batch is assigned with the same cellOf
    * expression, and `append` mode adds files only under the touched
    * cell directories — untouched cells' files are not rewritten, and a
    * probe needs no code change (partition pruning reads old + appended
    * files alike). Per-batch cost: O(batch) assignment + append; the
    * corpus is never re-read. Assignment-drift (centroids vs the grown
    * corpus) is the operator's tuning knob, same as any production IVF:
    * re-train when recall decays, not per batch. AnnIndexSpec pins
    * append-probe equality with a from-scratch rebuild of the union. */
  def appendIvf(batch: DataFrame, cents: Array[Array[Float]], path: String): Unit =
    writeIvf(batch, cents, path, mode = "append")

  /** SemDeDup's at-scale layout: the cell assignment written BUCKETED by
    * `cell`, so the within-cell pair join reads both sides pre-shuffled
    * and runs with ZERO exchange — cross-cell traffic is impossible by
    * layout, which is the whole point of the SemDeDup decomposition.
    * `buckets` should track k/cellCount (many cells per bucket is fine;
    * the join key is still `cell`). Asserted in AnnIndexSpec. */
  def writeCells(e: DataFrame, model: CellModel,
      table: String, buckets: Int): Unit =
    Io.writeBucketedBy(
      e.withColumn("cell", cellOfModel(col("embedding"), model)),
      table, Seq("cell"), buckets)

  /** SemDeDup over the persisted bucketed cell layout: identical keeper
    * set to the in-memory form (AnnIndexSpec pins equality), but the
    * pair join is partition-local — no shuffle of the corpus at any
    * scale. */
  def semDedupOnCells(spark: SparkSession, table: String,
      tau: Double = 0.45): DataFrame =
    Ann.semDedup(
      spark.table(table).select(col("vec_id"), col("cell"), col("embedding")), tau)

  // ---- IVF + PQ composed layout ---------------------------------------

  /** Write the IVF layout WITH product-quantization codes computed at
    * write time: rows partitioned by cell carry (vec_id, embedding,
    * codes) where `codes` is the one-long PQ encoding. The probe below
    * then reads, from the nProbe pruned directories, only the 8-byte
    * code column for scoring — full embeddings are materialized only for
    * the `rerank` surviving candidates. At 100 TB this stacks the two
    * reductions: directory pruning drops (k−nProbe)/k of the corpus,
    * and ADC drops 32× of the remaining scan bytes (codes vs 64-float
    * vectors; parquet reads only the projected column). */
  def writeIvfPq(e: DataFrame, cents: Array[Array[Float]], books: Array[Float],
      m: Int, ksub: Int, path: String): Unit =
    Io.writePartitioned(
      e.withColumn("cell", cellOf(col("embedding"), cents))
        .withColumn("codes", org.apache.spark.sql.graft.VectorExpressions
          .pqEncode(col("embedding"), books.toSeq, m, ksub)),
      path, Seq("cell"))

  /** Probe the IVF+PQ layout: partition-pruned ADC scan over the code
    * column (never touches `embedding`), TakeOrdered top-`rerank` by
    * approximate score, then exact cosine re-rank of those candidates
    * only — reading embeddings through the SAME pruned directories. */
  def probeIvfPq(spark: SparkSession, path: String, qv: Array[Float],
      cents: Array[Array[Float]], books: Array[Float], m: Int, ksub: Int,
      nProbe: Int, rerank: Int, k: Int): DataFrame = {
    val (dotL, nrmL) = Pq.luts(qv, books, m, ksub)
    val cells = probeCells(qv, cents, nProbe)
    def pruned = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    val cands = pruned
      .select(col("vec_id"), org.apache.spark.sql.graft.VectorExpressions
        .pqAdcCosine(col("codes"), dotL.toSeq,
          nrmL.toSeq, m, ksub).as("adc"))
      .orderBy(col("adc").desc, col("vec_id").asc).limit(rerank)
    cands.join(pruned.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  // ---- LSH band-table persistent layout -------------------------------

  /** Packed single-column band keys (band << bandBits | bv) for one
    * signature — single-column because Spark bucket pruning only fires
    * on single-column bucket specs. */
  def bandKeys(sig: Column, bandBits: Int, nBands: Int): Column = {
    requireBandGeometry(bandBits, nBands)
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map(b =>
      shiftright(sig, b * bandBits).bitwiseAND(lit(mask)) + lit(b.toLong << bandBits)): _*)
  }

  /** Write the band table — (vec_id, sig, bkey), one row per (vector,
    * band) — bucketed by the packed band key. `sig` rides along so the
    * probe can drop multi-band duplicates map-side (first matching band)
    * instead of with a distinct. */
  /** The signature is a single long, so the band lattice must fit in 64
    * bits — beyond that the shifts silently alias band groups (capped
    * hyperplaneSig), corrupting the index with no error. Fail loud. */
  private def requireBandGeometry(bandBits: Int, nBands: Int): Unit = {
    require(bandBits > 0 && nBands > 0, s"bandBits=$bandBits nBands=$nBands must be positive")
    require(bandBits * nBands <= 64,
      s"bandBits*nBands = ${bandBits * nBands} exceeds the 64-bit signature " +
        "(hyperplaneSig caps at 64 bits; extra bands would alias)")
  }

  /** The banded rows for the table — ONE construction shared by the
    * initial write and incremental append, so geometry and packing can
    * never drift between them. */
  private def lshBanded(e: DataFrame, bandBits: Int, nBands: Int): DataFrame = {
    requireBandGeometry(bandBits, nBands)
    e.withColumn("sig", hyperplaneSig(col("embedding"), bandBits * nBands))
      .select(col("vec_id"), col("sig"),
        explode(bandKeys(col("sig"), bandBits, nBands)).as("bkey"))
  }

  def writeLsh(e: DataFrame, bandBits: Int, nBands: Int,
      table: String, buckets: Int): Unit =
    Io.writeBucketedBy(lshBanded(e, bandBits, nBands), table, Seq("bkey"), buckets)

  /** INCREMENTAL LSH maintenance — [[appendIvf]]'s twin for the band
    * layout (hyperplanes are position-keyed hashes, so unlike IVF there
    * is not even frozen model state to carry: the same geometry IS the
    * quantizer). The batch is banded with the shared construction and
    * appended; new bucket files land beside the standing ones, which
    * are never rewritten, and a probe's `bkey IN (...)` bucket pruning
    * reads old + appended files of the probed buckets alike — no probe
    * code change, no rebuild. Spark validates the bucket spec against
    * the catalog entry on append, so a geometry/bucket-count mismatch
    * fails loud rather than corrupting the index. Per-batch cost:
    * O(batch) signature work + append. AnnIndexSpec pins standing-files-
    * untouched AND append-probe equality with a from-scratch rebuild. */
  def appendLsh(batch: DataFrame, bandBits: Int, nBands: Int,
      table: String, buckets: Int): Unit =
    Io.appendBucketedBy(lshBanded(batch, bandBits, nBands), table, Seq("bkey"), buckets)

  // ---- streaming LSH ingest (exactly-once versioned band layout) ------

  /** The banded rows WITH the embedding riding along — the streaming
    * layout's row shape: a probe re-ranks candidates from the matched
    * band row itself, no second fetch join. ×nBands storage vs the
    * id-only band table — the IVF trade (writeIvf also stores vectors in
    * the layout), accepted here because the streamed batches are the
    * growing edge of the corpus and [[graft.sources.Versioned.optimize]]
    * can fold them later. */
  private def lshBandedKeepVec(e: DataFrame, bandBits: Int, nBands: Int): DataFrame = {
    requireBandGeometry(bandBits, nBands)
    e.withColumn("sig", hyperplaneSig(col("embedding"), bandBits * nBands))
      .select(col("vec_id"), col("sig"), col("embedding"),
        explode(bandKeys(col("sig"), bandBits, nBands)).as("bkey"))
  }

  /** EXACTLY-ONCE streaming index maintenance — [[appendLsh]] composed
    * with the transactional layer: each micro-batch's banded rows commit
    * through [[graft.sources.Versioned.commitBatchAppend]] with the
    * (appId, batchId) ledger, so a replayed batch (failure recovery
    * re-runs the last epoch) is recognized and SKIPPED — the band index
    * can never double-count a vector, which plain appendLsh cannot
    * promise under replay (its bucketed append is not idempotent).
    * The staged files are hive-partitioned by `bkey` INSIDE the txn
    * directory, so a probe's `bkey IN (...)` is directory pruning
    * through every commit — the same pruning story as the bucketed
    * layout, delivered by layout instead of catalog metadata. Keep
    * bandBits small enough that nBands·2^bandBits directories per
    * commit stays sane (≤ ~1k; larger geometries would partition by a
    * hash bucket of bkey instead). Use as:
    * {{{
    * embeds.writeStream.foreachBatch(
    *   AnnIndex.streamingLshSink(path, "app", bandBits, nBands)).start()
    * }}} */
  def streamingLshSink(path: String, appId: String,
      bandBits: Int, nBands: Int): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.sources.Versioned.commitBatchAppend(batch.sparkSession, path,
        appId, batchId, lshBandedKeepVec(batch, bandBits, nBands),
        partitionCols = Seq("bkey"))
      ()
    }

  /** Probe the versioned streaming band layout: resolve the current
    * version (snapshot isolation — concurrent micro-batch commits
    * cannot tear the read), prune to the query's nBands bkey
    * directories, first-matching-band dedup, exact cosine re-rank from
    * the embedding riding the band row. Pruning is asserted on executed
    * plans in StreamingSpec. */
  def probeLshVersioned(spark: SparkSession, path: String, qv: Array[Float],
      bandBits: Int, nBands: Int, k: Int): DataFrame = {
    val (qsig, qKeys) = queryBandKeys(spark, qv, bandBits, nBands)
    // The version reads one hive-partitioned scan per commit directory;
    // the bkey filter pushes into every one of them, so each commit's
    // directories prune independently. bkey reads as the long the
    // manifest's recorded schema says, so the IN list is longs too.
    graft.sources.Versioned.read(spark, path)
      .filter(col("bkey").isin(qKeys: _*))
      .filter(shiftright(col("bkey").cast("long"), bandBits) ===
        Lsh.firstMatchingBand(col("sig").bitwiseXOR(lit(qsig)), bandBits, nBands))
      .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The query's signature and packed band keys, computed on the driver
    * by the SAME `hyperplaneSig`/`bandKeys` expressions the writer packs
    * with (so the probe's packing cannot diverge from the index's):
    * the analyzer resolves them over the literal vector and they are
    * evaluated in place. No Spark job runs and no class is compiled. */
  private def queryBandKeys(spark: SparkSession, qv: Array[Float],
      bandBits: Int, nBands: Int): (Long, Seq[Long]) = {
    requireBandGeometry(bandBits, nBands)
    val sig = hyperplaneSig(lit(qv), bandBits * nBands)
    val Seq(s, keys) = spark.range(1).select(sig, bandKeys(sig, bandBits, nBands))
      .queryExecution.analyzed.expressions.map(_.eval())
    (s.asInstanceOf[Long],
      keys.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
  }

  /** Probe the bucketed band table: `bkey IN (query's nBands keys)` reads
    * only the matching buckets (bucket pruning — asserted in
    * AnnIndexSpec), first-matching-band drops duplicate candidates
    * map-side, and a candidate-sized join back to `vectors` re-ranks by
    * exact cosine. The band table itself is never scanned in full.
    *
    * Spark's DisableUnnecessaryBucketedScan planner rule turns the
    * bucketed read off (nothing downstream needs the partitioning), but
    * the scan still reads only the matching buckets' files: Spark 4.1's
    * non-bucketed file listing drops files outside the pruned bucket
    * set. AnnIndexSpec counts the files the executed scan reads. */
  def probeLsh(spark: SparkSession, table: String, vectors: DataFrame,
      qv: Array[Float], bandBits: Int, nBands: Int, k: Int): DataFrame = {
    val (qsig, qKeys) = queryBandKeys(spark, qv, bandBits, nBands)
    val cands = spark.table(table)
      .filter(col("bkey").isin(qKeys: _*))
      .filter(shiftright(col("bkey"), bandBits) === Lsh.firstMatchingBand(
        col("sig").bitwiseXOR(lit(qsig)), bandBits, nBands))
      .select(col("vec_id"))
    cands.join(vectors.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}
