package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import org.apache.spark.sql.graft.VectorExpressions.{cosine, dot, hyperplaneSig, l2norm}

/** Similarity search over the `embeddings` table (`Array[Float]`, dim 64).
  *
  * The reference exposes a `vector` column type and a cosine builtin
  * (andb/catalog/type.py:237, andb/catalog/buitin_functions.py:3) but
  * searches it with a serial scan. Here:
  *   - v02 is the exact distributed path: map-side cosine against a
  *     broadcast query vector, then a distributed top-k (TakeOrdered —
  *     each partition keeps k, driver merges k·partitions rows, never the
  *     full table).
  *   - v03 is the banded-LSH scale path, v05 the IVF scale path; both
  *     build their index in one narrow codegen'd scan and probe a pruned
  *     subset. Recall is probabilistic → verified by ScalaTest against
  *     v02, not the SQL oracle.
  * At 100 TB: v02's per-partition top-k is shuffle-free; v03/v05 turn
  * the scan into a partition-pruned lookup when the table is written
  * bucketed by band / partitioned by cell.
  */
object Ann {
  type Q = (SparkSession, String) => DataFrame

  /** Embedding dimensionality of the test tables (TESTDATA.md). The
    * Spark side of v13 is dimension-generic (size(embedding)); the
    * DuckDB oracle must unroll per-dim CTEs, so this ONE constant feeds
    * its three range() splices — regenerated data at another dim changes
    * one number instead of silently truncating the oracle's dots.
    * (Declared before defs — a later val would be 0 at defs init.) */
  private val SqDim = 64

  /** v24's fixed power-iteration unroll — ONE constant for the Spark
    * loop and the oracle's CTE chain (declared before `defs`: the oracle
    * string interpolates it eagerly at object construction). */
  private val PowerIters = 6

  /** v26's held-out-id ceiling: the eval sample is every 10th vector
    * BELOW this id, so the broadcast test batch is bounded (≤ 5k
    * vectors ≈ 1.3 MB) no matter how the corpus grows — an eval needs a
    * fixed-size sample, not a corpus-proportional one. Never binds at
    * the test SFs (max vec_id ≈ 5k at sf0.1), so the oracle rows are
    * unchanged; at production scale it is the knob. (Declared before
    * `defs` — eager oracle interpolation.) */
  private[graft] val EvalIdCap = 50000

  private def queryVec(s: SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  /** Per-dim SQ8 min/max as a 1-row (mns, mxs) array frame — ONE
    * definition of the quantizer's corpus stats, shared by v13 (the
    * search path) and v19 (its recall evaluation), so the two can never
    * measure different quantizers. Sorted collect keeps the array order
    * deterministic. */
  private def sq8Stats(e: DataFrame): DataFrame =
    e.select(posexplode(col("embedding")))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("sm"))
      .select(expr("transform(sm, x -> CAST(x.mn AS DOUBLE))").as("mns"),
              expr("transform(sm, x -> CAST(x.mx AS DOUBLE))").as("mxs"))

  /** The SQ8 per-element quantization rule as an array transform over
    * the (mns, mxs) frame columns — shared by v13 (search) and v19
    * (recall eval); v18's audit applies the same rule element-wise on
    * its exploded stream. Clamp-round onto 0..255, degenerate dims
    * pinned to 0. */
  private def sq8Quantize: org.apache.spark.sql.Column = expr(
    """transform(sequence(1, size(embedding)), i ->
      |  CASE WHEN element_at(mxs, i) = element_at(mns, i) THEN 0.0D
      |       ELSE least(255.0D, greatest(0.0D,
      |         floor((element_at(embedding, i) - element_at(mns, i)) * 255
      |               / (element_at(mxs, i) - element_at(mns, i)) + 0.5D))) END)""".stripMargin)

  /** The query vector as a 1-row DOUBLE-array frame (`qvd`) for the ADC
    * scorer. */
  private def queryVecD(s: SparkSession, d: String) =
    queryVec(s, d).select(expr("transform(qv, x -> CAST(x AS DOUBLE))").as("qvd"))

  /** Asymmetric-ADC SQ8 scoring of the corpus against a float query —
    * the ONE scoring rule shared by v13 (the search path) and v19 (its
    * recall eval): reconstruct each stored code (mn + q·step) and dot
    * it against the query's raw doubles. Dotting raw CODES instead
    * would rank by a per-dim-affine-distorted metric (recall ≈ 0 —
    * measured, see v13/v19). Returns (vec_id, embedding, sq_score);
    * the sum is a sequential fold in identical op order on both
    * engines ([[sq8AdcOracleCtes]] is the oracle twin). */
  private def sq8AdcScored(e: DataFrame, statsRow: DataFrame,
      qvd: DataFrame): DataFrame =
    e.crossJoin(broadcast(statsRow))
      .withColumn("q", sq8Quantize)
      .crossJoin(broadcast(qvd))
      .withColumn("sq_score", expr(
        """aggregate(transform(sequence(1, size(q)), i ->
          |  (element_at(mns, i)
          |   + element_at(q, i) * (element_at(mxs, i) - element_at(mns, i)) / 255)
          |  * element_at(qvd, i)), 0D, (a, v) -> a + v)""".stripMargin))
      .select(col("vec_id"), col("embedding"), col("sq_score"))

  /** Oracle twin of [[sq8Stats]]+[[sq8Quantize]]+[[sq8AdcScored]]: CTEs
    * ending in `sc(vec_id, emb, sq_score)` over the non-query corpus. */
  private def sq8AdcOracleCtes: String =
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |stats AS MATERIALIZED (
       |  SELECT i, min(emb[i]) AS mn, max(emb[i]) AS mx
       |  FROM base, range(1, ${SqDim + 1}) t(i) WHERE vec_id <> 0 GROUP BY i),
       |sm AS MATERIALIZED (
       |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM stats),
       |qz AS MATERIALIZED (
       |  SELECT vec_id, emb,
       |         list_transform(range(1, ${SqDim + 1}), i ->
       |           CASE WHEN mxs[i] = mns[i] THEN CAST(0 AS DOUBLE)
       |                ELSE LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
       |                  FLOOR((emb[i] - mns[i]) * 255
       |                        / (mxs[i] - mns[i]) + 0.5))) END) AS q
       |  FROM base, sm),
       |qvd AS MATERIALIZED (SELECT emb AS qvd FROM base WHERE vec_id = 0),
       |sc AS MATERIALIZED (
       |  SELECT z.vec_id, z.emb,
       |         list_sum(list_transform(range(1, ${SqDim + 1}), i ->
       |           (sm.mns[i] + z.q[i] * (sm.mxs[i] - sm.mns[i]) / 255)
       |           * qvd.qvd[i])) AS sq_score
       |  FROM qz z, qvd, sm WHERE z.vec_id <> 0)""".stripMargin

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // Pairwise cosine via the codegen'd native expression.
    ("v01_cosine_pairs",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
          .filter(col("a_id") < 30)
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"), cosine(col("a_emb"), col("b_emb")).as("cos_sim"))
      },
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos_sim
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE a.vec_id < 30""")),

    // Exact brute-force top-k: broadcast 1-row query, distributed top-k.
    ("v02_knn_bruteforce",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(20),
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
              SELECT vec_id,
                     list_cosine_similarity(embedding::DOUBLE[], qv) AS cos_sim
              FROM embeddings, q WHERE vec_id <> 0
              ORDER BY cos_sim DESC, vec_id ASC LIMIT 20""")),

    // ---- v09: metadata-filtered KNN (hybrid search) --------------------
    // The WHERE-clause-on-ANN shape every vector store grows into: exact
    // top-k restricted to rows matching a metadata predicate. The filter
    // is a plain pushed parquet predicate (PushedFilters shows label),
    // so selective predicates skip row groups BEFORE any vector math,
    // and the top-k stays TakeOrdered. At index scale the same predicate
    // composes with the AnnIndex layouts: label as a partition column
    // under cell (directory pruning × predicate), or post-filtered ADC
    // with a deeper rerank pool.
    ("v09_knn_filtered",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") =!= 0 && col("label") === 3)
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"), col("label"),
          cosine(col("embedding"), col("qv")).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)
        .limit(10),
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
              SELECT vec_id, label,
                     list_cosine_similarity(embedding::DOUBLE[], qv) AS cos_sim
              FROM embeddings, q WHERE vec_id <> 0 AND label = 3
              ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""")),

    // ---- v10: range search (all vectors within a similarity radius) ----
    // The other half of the vector-search API: not "the k nearest" but
    // "everything at least this similar" (dedup thresholds, recall-first
    // retrieval). Shape at scale: ONE map-side codegen'd cosine + filter —
    // no top-k state, no sort, no exchange at all; output size is the
    // result size. Composes with the AnnIndex layouts the same way v02
    // does: LSH bands prune candidates first when the radius is tight,
    // IVF cells bound the scan when the corpus is partitioned.
    ("v10_range_search",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.2),
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
              SELECT vec_id,
                     list_cosine_similarity(embedding::DOUBLE[], qv) AS cos_sim
              FROM embeddings, q WHERE vec_id <> 0
                AND list_cosine_similarity(embedding::DOUBLE[], qv) >= 0.2""")),

    // Multi-table (banded) hyperplane LSH: ONE 64-bit signature scan,
    // sliced into nBands tables of bandBits each — a candidate is any
    // vector sharing ≥1 band with the query (the minhash-LSH banding
    // scheme applied to random-hyperplane bits). Recall/selectivity knob:
    // P(candidate | angle θ) = 1-(1-(1-θ/π)^bandBits)^nBands. 16×4 is the
    // high-recall corner (0.75-0.85 @ k=20 on this corpus, whose vectors
    // are near-uniform — LSH's worst case); real embedding corpora are
    // clustered, where wider bands (8×8) regain selectivity. At scale the
    // band table is written bucketed by (band, bv) so a probe is a
    // partition-pruned lookup, never a scan; the signature pass itself is
    // one narrow codegen'd map over the parquet scan.
    // Candidate generation + re-rank are oracle-checked from the
    // exported signature table (the t17 pattern): DuckDB re-slices the
    // 64-bit signatures into bands with the same arithmetic-shift+mask
    // integer math and re-derives the candidate set and exact-cosine
    // top-20 independently. Only the hyperplane hash itself stays
    // engine-pinned (TextHashPropertySpec/AnnSpec).
    ("v03_knn_lsh",
      (s, d) => {
        val bandBits = 4; val nBands = 16
        def banded(df: DataFrame, vecCol: String) = df
          .withColumn("sig", hyperplaneSig(col(vecCol), bandBits * nBands))
          .select(col("*"), explode(Lsh.bandStructs(col("sig"), bandBits, nBands)).as("bs"))
          .select(df.columns.toIndexedSeq.map(col) ++
            Seq(col("sig"), col("bs.band").as("band"), col("bs.bv").as("bv")): _*)
        val raw = Tables.embeddings(s, d)
        OracleExport.writeOnce(
          raw.select(col("vec_id"),
            hyperplaneSig(col("embedding"), bandBits * nBands).as("sig")),
          OracleExport.LshSigPath, OracleExport.embKeyFor(raw, d))
        val e = banded(raw, "embedding")
        val probes = banded(queryVec(s, d), "qv").withColumnRenamed("sig", "psig")
        // First-matching-band filter (Lsh) keeps each (vector, query)
        // match exactly once — no distinct over embedding-carrying rows.
        e.join(broadcast(probes), Seq("band", "bv"))
          .filter(col("vec_id") =!= 0)
          .filter(col("band") === Lsh.firstMatchingBand(
            col("sig").bitwiseXOR(col("psig")), bandBits, nBands))
          .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""WITH sigs AS MATERIALIZED (
                 SELECT vec_id, sig
                 FROM ${OracleExport.readSql(OracleExport.LshSigPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               e AS (SELECT vec_id, embedding FROM embeddings),
               q AS (SELECT s.sig AS psig, e.embedding::DOUBLE[] AS qv
                     FROM sigs s JOIN e ON s.vec_id = e.vec_id WHERE s.vec_id = 0),
               cand AS (
                 SELECT s.vec_id FROM sigs s, q
                 WHERE s.vec_id <> 0
                   AND EXISTS (SELECT 1 FROM range(16) t(b)
                               WHERE ((s.sig >> (t.b * 4)) & 15)
                                   = ((q.psig >> (t.b * 4)) & 15)))
               SELECT e.vec_id,
                      list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos_sim
               FROM cand c JOIN e ON c.vec_id = e.vec_id, q
               ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20""")),

    // ---- v20: multi-probe LSH KNN (recall without re-hashing) ----------
    // The production answer to "v03's recall is short and the index is
    // already written": probe MORE BUCKETS of the SAME standing layout
    // (Lv et al. 2007) instead of re-hashing with more tables. Each
    // band contributes the query's bucket plus its bandBits Hamming-1
    // neighbors — the buckets a true neighbor most likely landed in
    // when one hyperplane bit flipped. Probe rows grow 5× (still one
    // broadcast); the corpus side — scan, signature, band table,
    // bucketed layout — is BYTE-IDENTICAL to v03's, so at 100 TB this
    // is purely more partition-pruned lookups against AnnIndex.writeLsh,
    // zero new index cost. Candidate dedup is the firstMatchingBand
    // discipline relaxed to popcount ≤ 1 (firstBandWithin1): map-side,
    // no candidate-sized distinct. Recall ≥ v03's by construction
    // (probed buckets ⊃ v03's); both pinned in AnnSpec.
    // Oracle-checked from v03's signature export: a multi-probe
    // candidate is exactly a vector whose 4-bit slice XOR has popcount
    // ≤ 1 in SOME band (own bucket ∪ its 4 Hamming-1 neighbors) —
    // DuckDB re-derives that set and the exact-cosine top-20 from the
    // exported sigs with plain integer math.
    ("v20_knn_multiprobe",
      (s, d) => {
        val bandBits = 4; val nBands = 16
        val raw = Tables.embeddings(s, d)
        OracleExport.writeOnce(
          raw.select(col("vec_id"),
            hyperplaneSig(col("embedding"), bandBits * nBands).as("sig")),
          OracleExport.LshSigPath, OracleExport.embKeyFor(raw, d))
        val e = raw
          .withColumn("sig", hyperplaneSig(col("embedding"), bandBits * nBands))
          .select(col("vec_id"), col("embedding"), col("sig"),
            explode(Lsh.bandStructs(col("sig"), bandBits, nBands)).as("bs"))
          .select(col("vec_id"), col("embedding"), col("sig"),
            col("bs.band").as("band"), col("bs.bv").as("bv"))
        val probes = queryVec(s, d)
          .withColumn("psig", hyperplaneSig(col("qv"), bandBits * nBands))
          .select(col("qv"), col("psig"),
            explode(Lsh.multiProbeStructs(col("psig"), bandBits, nBands)).as("bs"))
          .select(col("qv"), col("psig"),
            col("bs.band").as("band"), col("bs.bv").as("bv"))
        e.join(broadcast(probes), Seq("band", "bv"))
          .filter(col("vec_id") =!= 0)
          .filter(col("band") === Lsh.firstBandWithin1(
            col("sig").bitwiseXOR(col("psig")), bandBits, nBands))
          .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""WITH sigs AS MATERIALIZED (
                 SELECT vec_id, sig
                 FROM ${OracleExport.readSql(OracleExport.LshSigPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               e AS (SELECT vec_id, embedding FROM embeddings),
               q AS (SELECT s.sig AS psig, e.embedding::DOUBLE[] AS qv
                     FROM sigs s JOIN e ON s.vec_id = e.vec_id WHERE s.vec_id = 0),
               cand AS (
                 SELECT s.vec_id FROM sigs s, q
                 WHERE s.vec_id <> 0
                   AND EXISTS (SELECT 1 FROM range(16) t(b)
                               WHERE bit_count((xor(s.sig, q.psig) >> (t.b * 4)) & 15) <= 1))
               SELECT e.vec_id,
                      list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos_sim
               FROM cand c JOIN e ON c.vec_id = e.vec_id, q
               ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20""")),

    // IVF (inverted-file) ANN: k-means-lite centroids → map-side argmax
    // assignment (no shuffle of the vectors) → probe only the query's
    // nProbe nearest cells with exact cosine. Centroid "training" is 2
    // Lloyd iterations seeded from the k lowest-id vectors, refined on a
    // BOUNDED deterministic sample (~22%, `vec_id % 37 < 8`) — the
    // spark.ml pattern: model state (k×dim floats) round-trips to the
    // driver, the data never does, and no training pass ever explodes
    // n×dim rows (per-cell sums reduce whole vectors, combining
    // map-side). At 100 TB the table is *written partitioned by cell_id*
    // so a probe is partition-pruned I/O (read nProbe/k of the data),
    // not a filtered full scan.
    // Oracle-checked from the exported centroid table — assignment,
    // probe-cell choice, and the ranking all re-derived by DuckDB;
    // recall vs brute force additionally asserted in AnnSpec.
    ("v05_knn_ivf",
      (s, d) => {
        val k = 16; val nProbe = 6
        val e = Tables.embeddings(s, d)
        // Model training + cell assignment live in AnnIndex (shared with
        // the persistent partitioned-by-cell layout, whose probe is
        // demonstrated partition-pruned in AnnIndexSpec). Centroid state
        // is k×dim floats — legitimately driver-side model state (the
        // spark.ml KMeans pattern): every DATA pass stays distributed,
        // only the model round-trips.
        val cents = AnnIndex.trainCentroids(e, k)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        // The query's nProbe best cells come from the model alone; the
        // probe scan filters to those cells map-side (and at scale reads
        // only their partition directories — AnnIndex.probeIvf).
        val cells = AnnIndex.probeCells(qv, cents, nProbe)
        // Export the trained centroids (the t17 model-fed-to-the-oracle
        // pattern): DuckDB re-derives assignment, probe-cell choice and
        // the final ranking from the model table alone, so everything
        // the operator DOES with the model is oracle-checked; only the
        // training kernel itself stays spec-pinned (AnnSpec).
        OracleExport.writeOnce({
          import s.implicits._
          cents.toIndexedSeq.zipWithIndex
            .map { case (c, i) => (i, c.toIndexedSeq) }.toDF("cell", "centroid")
        }, OracleExport.IvfCentPath, OracleExport.embKeyFor(e, d))
        e.withColumn("cell", AnnIndex.cellOf(col("embedding"), cents))
          .filter(col("cell").isin(cells: _*) && col("vec_id") =!= 0)
          .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
          .limit(20)
      },
      Some(s"""WITH cents AS MATERIALIZED (
                 SELECT cell, centroid::DOUBLE[] AS c
                 FROM ${OracleExport.readSql(OracleExport.IvfCentPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
               pc AS (SELECT cell FROM cents, q
                      ORDER BY list_cosine_similarity(c, qv) DESC, cell ASC LIMIT 6),
               asg AS MATERIALIZED (
                 SELECT e.vec_id,
                        (SELECT c.cell FROM cents c
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.c) DESC,
                                  c.cell ASC LIMIT 1) AS cell
                 FROM embeddings e WHERE e.vec_id <> 0)
               SELECT e.vec_id, list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos_sim
               FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id, q
               WHERE a.cell IN (SELECT cell FROM pc)
               ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20""")),

    // Embedding hygiene pass: unit-normalization + per-vector stats —
    // the standard preprocessing before any cosine-based index (after
    // unit-norm, cosine = dot, which halves every downstream kernel).
    // Map-side only; scalar outputs truncated to the 1e-6 grid so the
    // hash-compare is stable.
    ("v06_embed_normalize",
      (s, d) => {
        def micro(c: org.apache.spark.sql.Column) = floor(c * 1000000 + 0.5) / 1000000
        Tables.embeddings(s, d)
          .select(col("vec_id"), size(col("embedding")).as("dim"),
            l2norm(col("embedding")).as("norm"),
            col("embedding")(0).cast("double").as("x0"))
          .select(col("vec_id"), col("dim"), micro(col("norm")).as("norm6"),
            micro(col("x0") / col("norm")).as("x0_unit"))
      },
      Some("""SELECT vec_id, len(embedding) AS dim,
                     FLOOR(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS norm6,
                     FLOOR(CAST(embedding[1] AS DOUBLE) / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000 + 0.5) / 1000000 AS x0_unit
              FROM embeddings""")),

    // Batch KNN join — top-n neighbors for EVERY query in a batch (the
    // real retrieval/dedup workload, vs v02's single query). Shape at
    // 100 TB: broadcast the query batch, ONE map-side cosine pass over
    // the corpus scan, then the two-phase GroupedTopK — each scan task
    // keeps ≤ queries×n rows (bounded heap), and only those partial
    // winners reach the exchange. No shuffle of scored corpus rows.
    ("v07_knn_join",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        val scored = e.filter(col("vec_id") >= 10)
          .crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"),
            cosine(col("embedding"), col("qv")).as("cos_sim"))
        org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          scored, Seq("q_id"), Seq("cos_sim" -> true, "vec_id" -> false), 5)
      },
      Some("""SELECT q_id, vec_id, cos_sim FROM (
                SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
                       list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS cos_sim,
                       row_number() OVER (PARTITION BY a.vec_id
                         ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) DESC,
                                  b.vec_id ASC) AS rn
                FROM embeddings a JOIN embeddings b
                  ON a.vec_id < 10 AND b.vec_id >= 10)
              WHERE rn <= 5""")),

    // ---- v08: product-quantization ANN (ADC scan + exact re-rank) ------
    // The compression rung of the ANN ladder: train per-subspace
    // codebooks on a bounded driver-side sample (Pq.train), encode every
    // vector to ONE long (8 subspaces × 8-bit codes — 32× smaller than
    // the 64-float embedding), score with asymmetric-distance lookups
    // (PqAdcCosine: m table reads + one sqrt per row, both LUTs driver-
    // computed per query), take the top `rerank` by ADC (TakeOrdered —
    // per-partition heaps, never a full sort), and re-rank ONLY those
    // candidates with exact cosine against the full vectors. At scale the
    // encode runs once at write time and the ADC pass reads the 8-byte
    // code column, not the embeddings. Oracle-checked from the exported
    // codebooks (the t17 pattern): DuckDB re-derives the per-subspace
    // encode (argmin L2, ties to the lower code), both query LUTs, the
    // ADC scores with the j-sum in subspace order, the rerank pool and
    // the exact top-20 — only codebook TRAINING stays spec-pinned;
    // recall vs v02 additionally asserted in AnnSpec.
    ("v08_knn_pq",
      (s, d) => {
        val m = 8; val ksub = 32; val k = 20; val rerank = 150
        val e = Tables.embeddings(s, d)
        val books = Pq.train(e, m, ksub)
        OracleExport.writeOnce({
          import s.implicits._
          val subDim = books.length / (m * ksub)
          (for (j <- 0 until m; c <- 0 until ksub) yield
            (j, c, books.slice((j * ksub + c) * subDim,
              (j * ksub + c + 1) * subDim).toIndexedSeq)).toDF("sub", "code", "b")
        }, OracleExport.PqBookPath, OracleExport.embKeyFor(e, d))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val (dotL, nrmL) = Pq.luts(qv, books, m, ksub)
        val cands = e.filter(col("vec_id") =!= 0)
          .select(col("vec_id"),
            org.apache.spark.sql.graft.VectorExpressions.pqEncode(
              col("embedding"), books.toSeq, m, ksub).as("codes"))
          .select(col("vec_id"),
            org.apache.spark.sql.graft.VectorExpressions.pqAdcCosine(
              col("codes"), dotL.toSeq, nrmL.toSeq, m, ksub).as("adc"))
          .orderBy(col("adc").desc, col("vec_id").asc).limit(rerank)
        cands.join(e.select(col("vec_id"), col("embedding")), "vec_id")
          .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(k)
      },
      Some(s"""WITH books AS MATERIALIZED (
                 SELECT sub, code, b::DOUBLE[] AS b
                 FROM ${OracleExport.readSql(OracleExport.PqBookPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               e AS MATERIALIZED (
                 SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
               q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
               lut AS MATERIALIZED (
                 SELECT bk.sub, bk.code,
                        list_sum(list_transform(range(1, 9),
                          t -> q.qv[bk.sub * 8 + t] * bk.b[t])) AS dl,
                        list_sum(list_transform(range(1, 9),
                          t -> bk.b[t] * bk.b[t])) AS nl
                 FROM books bk, q),
               dists AS MATERIALIZED (
                 SELECT e.vec_id, bk.sub, bk.code,
                        list_sum(list_transform(range(1, 9),
                          t -> (e.emb[bk.sub * 8 + t] - bk.b[t])
                               * (e.emb[bk.sub * 8 + t] - bk.b[t]))) AS dist
                 FROM e, books bk WHERE e.vec_id <> 0),
               codes AS MATERIALIZED (
                 SELECT vec_id, sub, code FROM (
                   SELECT vec_id, sub, code,
                          row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY dist ASC, code ASC) AS rn
                   FROM dists) WHERE rn = 1),
               adc AS MATERIALIZED (
                 -- j-sum in subspace order (list aggregation, not bag
                 -- sum) so the fold order matches the engine's j=0..m-1
                 -- loop exactly.
                 SELECT c.vec_id,
                        CASE WHEN list_sum(list(l.nl ORDER BY l.sub)) = 0 THEN 0.0
                             ELSE list_sum(list(l.dl ORDER BY l.sub))
                                  / sqrt(list_sum(list(l.nl ORDER BY l.sub))) END AS adc
                 FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
                 GROUP BY c.vec_id),
               cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id ASC LIMIT 150)
               SELECT e.vec_id, list_cosine_similarity(e.emb, q.qv) AS cos_sim
               FROM cand c JOIN e ON c.vec_id = e.vec_id, q
               ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 20""")),

    // Norms + dot products: native expressions next to the HOF
    // composition (zip_with/aggregate) the built-in surface offers.
    ("v04_vector_norm",
      (s, d) => Tables.embeddings(s, d)
        .filter(col("vec_id") < 50)
        .select(
          col("vec_id"),
          l2norm(col("embedding")).as("norm"),
          dot(col("embedding"), col("embedding")).as("dot_self"),
          aggregate(
            zip_with(col("embedding"), col("embedding"),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, v) => acc + v).as("dot_hof")),
      Some("""SELECT vec_id,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
                     list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS dot_self,
                     list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS dot_hof
              FROM embeddings WHERE vec_id < 50""")),

    // ---- v11: SemDeDup (semantic dedup via cluster-scoped pairs) --------
    // The embedding-space dedup recipe from SemDeDup (Abbas et al. 2023,
    // arXiv:2303.09540): k-means-cluster the embeddings, then look for
    // near-identical pairs ONLY WITHIN each cluster — clustering turns
    // the quadratic all-pairs problem into Σ_cells (n_c²). The scaling
    // contract is ENFORCED here, not just claimed: k is derived from the
    // corpus size (AnnIndex.cellCount — one cheap metadata-backed count,
    // no data pass), so E[cell] stays ≈32 and the pair work stays linear
    // in n with n/32 distinct join keys (reducer parallelism grows with
    // the data) — and the MODEL scales too: past 1024 cells the
    // assignment switches to AnnIndex's two-level (coarse × fine)
    // quantizer, keeping per-row assignment cost and driver state at
    // O(√k) instead of O(k) (flat argmax with k ∝ n would be quadratic
    // total work — the same failure, one stage earlier). At 100 TB the
    // keeper runs over the persisted BUCKETED-by-cell layout
    // (AnnIndex.writeCells/semDedupOnCells) where the pair join is
    // partition-local — zero exchange, asserted on the executed plan in
    // AnnIndexSpec. Centroids are driver-side model state (spark.ml
    // pattern; fixed-point sums make training merge-order-insensitive,
    // so the drop set is rerun-stable). Oracle-checked from the exported
    // cell model (both quantizer levels): DuckDB re-derives assignment
    // and the greedy keeper rule independently; AnnSpec additionally
    // pins soundness + completeness of the keeper rule against an
    // independently computed within-cell all-pairs set, on both the
    // flat and two-level assignment paths.
    ("v11_semdedup",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = AnnIndex.cellModelFor(e, d, AnnIndex.cellCount(e.count()))
        // Model-fed-to-the-oracle export (t17 pattern): both quantizer
        // levels, so DuckDB re-derives the assignment (flat argmax, or
        // coarse·|fine|+fine when two-level) and the greedy keeper rule
        // from the exported centroids alone.
        OracleExport.writeOnce({
          import s.implicits._
          (model.coarse.toIndexedSeq.zipWithIndex.map { case (c, i) =>
            (0, i, c.toIndexedSeq) } ++
           model.fine.toIndexedSeq.flatMap(_.toIndexedSeq.zipWithIndex.map {
             case (c, i) => (1, i, c.toIndexedSeq) }))
            .toDF("lvl", "cell", "centroid")
        }, OracleExport.SemCellPath, OracleExport.embKeyFor(e, d))
        // Materialize the assignment ONCE: semDedup consumes the cells
        // frame three times (pair-join a-side, b-side, anti-join left),
        // and each lazy re-evaluation re-runs the k-centroid argmax —
        // measured 2.8 s → 1.1 s at sf0.1 from this cut alone. This is
        // also the operator's own at-scale shape: writeCells persists
        // the assignment and the pair join reads it back (AnnIndexSpec);
        // localCheckpoint is the in-memory twin of that materialization.
        semDedup(e.select(col("vec_id"),
          AnnIndex.cellOfModel(col("embedding"), model).as("cell"), col("embedding"))
          .localCheckpoint())
      },
      Some(s"""WITH cm AS MATERIALIZED (
                 SELECT lvl, cell, centroid::DOUBLE[] AS c
                 FROM ${OracleExport.readSql(OracleExport.SemCellPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               nf AS (SELECT GREATEST(1, count(*) FILTER (WHERE lvl = 1)) AS nf FROM cm),
               asg AS MATERIALIZED (
                 SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
                        CAST((SELECT cm.cell FROM cm WHERE cm.lvl = 0
                              ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cm.c) DESC,
                                       cm.cell ASC LIMIT 1) * nf.nf
                             + coalesce((SELECT cm.cell FROM cm WHERE cm.lvl = 1
                                ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], cm.c) DESC,
                                         cm.cell ASC LIMIT 1), 0) AS INTEGER) AS cell
                 FROM embeddings e, nf)
               SELECT a.vec_id, a.cell FROM asg a
               WHERE NOT EXISTS (
                 SELECT 1 FROM asg b
                 WHERE b.cell = a.cell AND b.vec_id < a.vec_id
                   AND list_cosine_similarity(a.emb, b.emb) >= 0.45)""")),

    // ---- v12: MMR diversified top-k (search-result reranking) ----------
    // Maximal Marginal Relevance (Carbonell & Goldstein 1998): rerank a
    // candidate pool so results trade relevance against redundancy —
    // pick = argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s). The pool is
    // the TOP-30 brute-force candidates (TakeOrdered — the distributed
    // part), localCheckpoint'd once; the greedy selection is 10 UNROLLED
    // declarative steps over ≤30 rows — each an anti-join + a ≤30×10
    // redundancy join + argmax — never driver-side float math, so the
    // kernel is the same codegen'd cosine the oracle's
    // list_cosine_similarity is proven bit-equal to (v01/v02). λ = 0.5
    // is dyadic: the MMR combination is two exact products and a
    // subtraction — exact cross-engine given exact sims. At scale the
    // pool bound (not the corpus) fixes the rerank cost; rerankers run
    // at k², corpora at n.
    ("v12_mmr_topk",
      (s, d) => {
        val k = 10
        val pool = Tables.embeddings(s, d)
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(queryVec(s, d)))
          .select(col("vec_id"), col("embedding"),
            cosine(col("embedding"), col("qv")).as("simq"))
          .orderBy(col("simq").desc, col("vec_id").asc)
          .limit(30)
          .localCheckpoint()
        val first = pool
          .orderBy(col("simq").desc, col("vec_id").asc).limit(1)
          .select(col("vec_id"), col("embedding"), col("simq"),
            lit(1).as("pick"), (lit(0.5) * col("simq")).as("mmr_score"))
          .localCheckpoint()
        Graph.unroll(first, k - 1) { (selected, round) =>
          val remaining = pool
            .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
          val red = remaining
            .crossJoin(selected.select(col("embedding").as("semb")))
            .groupBy(col("vec_id"))
            .agg(max(cosine(col("embedding"), col("semb"))).as("maxred"))
          val pick = remaining
            .join(red, "vec_id")
            .withColumn("mmr_score",
              lit(0.5) * col("simq") - lit(0.5) * col("maxred"))
            .orderBy(col("mmr_score").desc, col("vec_id").asc).limit(1)
            .select(col("vec_id"), col("embedding"), col("simq"),
              lit(round + 1).as("pick"), col("mmr_score"))
          selected.union(pick)
        }.select(col("pick"), col("vec_id"),
          col("simq").as("cos_sim"), col("mmr_score"))
      },
      Some(mmrOracle(10))),

    // ---- v13: scalar-quantized (SQ8) KNN with exact re-rank ------------
    // The quantization rung BETWEEN brute force (v02) and PQ (v08): each
    // dimension linearly quantized to 0..255 against per-dim corpus
    // min/max (4× smaller than float32; the standard SQ8 index format).
    // Scoring is ASYMMETRIC ADC: the stored CODE is reconstructed
    // (mn + q·step) per dimension and dotted against the FLOAT query —
    // the faithful surrogate. Dotting raw codes would rank by a
    // per-dim-AFFINE-distorted metric and lose essentially all recall
    // (measured: 0/10 @10 on this corpus — v19 is the operator that
    // measures exactly this, and it pins the ADC path at recall 1.0).
    // Unlike PQ's trained codebooks the whole path is deterministic and
    // ORACLE-EXACT: quantizer and reconstruction are floor/affine
    // expressions in identical op order, and the ADC sum runs
    // sequentially on both engines. Per-dim stats are a posexplode +
    // 64-key aggregate (map-side combined); candidates = TakeOrdered on
    // the ADC score; the exact-cosine path touches only the 20-row
    // re-rank.
    ("v13_knn_sq8",
      (s, d) => {
        val all = Tables.embeddings(s, d)
        val e = all.filter(col("vec_id") =!= 0)
        val statsRow = sq8Stats(e)
        sq8AdcScored(e, statsRow, queryVecD(s, d))
          .orderBy(col("sq_score").desc, col("vec_id").asc).limit(20)
          .crossJoin(broadcast(queryVec(s, d)))
          .select(col("vec_id"), col("sq_score"),
            cosine(col("embedding"), col("qv")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
      },
      Some(s"""WITH $sq8AdcOracleCtes,
              top20 AS MATERIALIZED (
                SELECT * FROM sc ORDER BY sq_score DESC, vec_id ASC LIMIT 20)
              SELECT t.vec_id, t.sq_score,
                     list_cosine_similarity(t.emb, q.qv) AS cos_sim
              FROM top20 t,
                   (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
              ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""")),

    // ---- v14: embedding drift between corpus snapshots -----------------
    // The model-ops monitoring rung: when a new crawl (or a re-embedded
    // corpus half) shifts the embedding distribution, IVF cells go
    // stale and retraining is due (the appendIvf Scaladoc's "re-train
    // when recall decays" knob needs a METRIC — this is it). Per-dim
    // mean shift between the two halves: means land on the 1e-9 grid
    // (their sums are merge-order-dependent), then diffs/squares are
    // exact products of gridded values, the 64-term total re-grids once,
    // and the worst dimension is an exact argmax. One posexplode +
    // 64-key aggregate — map-side combined, dimension-scale after.
    ("v14_embedding_drift",
      (s, d) => {
        // Median-derived split point (max id div 2) — a hardcoded
        // constant would degrade to "tiny prefix vs everything" as the
        // corpus grows; the 1-row threshold frame broadcasts.
        val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        val thr = e.agg(expr("max(vec_id) div 2").as("thr"))
        val ex = e.select(col("vec_id"), posexplode(col("embedding")))
          .crossJoin(broadcast(thr))
        val ds = ex.groupBy(col("pos")).agg(
            Graph.grid9(avg(when(col("vec_id") <= col("thr"), col("col")))).as("ma"),
            Graph.grid9(avg(when(col("vec_id") > col("thr"), col("col")))).as("mb"))
          .withColumn("dsq", (col("ma") - col("mb")) * (col("ma") - col("mb")))
          .localCheckpoint() // feeds the total AND the argmax
        ds.agg(Graph.grid9(sum(col("dsq"))).as("drift_sq"))
          .crossJoin(ds.orderBy(col("dsq").desc, col("pos").asc).limit(1)
            .select(col("pos").as("max_dim"), col("dsq").as("max_dsq")))
      },
      Some(s"""WITH thr AS (SELECT CAST(max(vec_id) // 2 AS BIGINT) AS thr
                            FROM embeddings WHERE vec_id <> 0),
              ex AS (
                SELECT vec_id, CAST(i - 1 AS INT) AS pos, emb[i] AS v, thr.thr
                FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
                      FROM embeddings WHERE vec_id <> 0), range(1, ${SqDim + 1}) t(i), thr),
              st AS (SELECT pos,
                       FLOOR(avg(CASE WHEN vec_id <= thr THEN v END) * 1000000000 + 0.5) / 1000000000 AS ma,
                       FLOOR(avg(CASE WHEN vec_id > thr THEN v END) * 1000000000 + 0.5) / 1000000000 AS mb
                     FROM ex GROUP BY pos),
              ds AS (SELECT pos, (ma - mb) * (ma - mb) AS dsq FROM st),
              tot AS (SELECT FLOOR(sum(dsq) * 1000000000 + 0.5) / 1000000000 AS drift_sq FROM ds),
              top AS (SELECT pos AS max_dim, dsq AS max_dsq FROM ds
                      ORDER BY dsq DESC, pos ASC LIMIT 1)
              SELECT t.drift_sq, p.max_dim, p.max_dsq FROM tot t, top p""")),

    // ---- v15: nearest-seed cluster assignment report ---------------------
    // The IVF/k-means ASSIGNMENT pass as a first-class report: every
    // vector lands on its most-similar seed (the 8 lowest vec_ids — the
    // same deterministic prefix trainCentroids seeds from), giving the
    // cluster-balance view that drives cluster-balanced sampling and
    // index sizing. The argmax is INTEGER-EXACT cross-engine: cosine is
    // gridded to 1e-6 while still scaled (an exactly-representable
    // integer-valued double), offset positive, and packed with the
    // seed's tie-break into ONE long — so per-vector argmax is max() over
    // longs, never a float comparison or a window. That also makes it
    // map-side combinable: the 8-rows-per-vector frame collapses in the
    // partial aggregate before any shuffle. Output: 8 rows with exact
    // counts and exact (gridded) min/max winning similarity — no
    // merge-order-dependent float sums anywhere.
    ("v15_cluster_assign",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("seed_id"), col("embedding").as("semb"))
        val gInt = floor(cosine(col("embedding"), col("semb")) * 1000000 + 0.5)
          .cast("long")
        val packed = (gInt + 1000000L) * 8L + (lit(7L) - col("seed_id"))
        e.filter(col("vec_id") >= 8)
          .crossJoin(broadcast(seeds))
          .select(col("vec_id"), packed.as("pk"))
          .groupBy(col("vec_id")).agg(max(col("pk")).as("pk"))
          .select((lit(7L) - col("pk") % 8).as("cluster"),
            (expr("pk div 8") - 1000000L).as("g"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"),
            (min(col("g")).cast("double") / 1000000).as("min_sim"),
            (max(col("g")).cast("double") / 1000000).as("max_sim"))
      },
      Some("""WITH seeds AS (
                SELECT vec_id AS seed_id, embedding::DOUBLE[] AS semb
                FROM embeddings WHERE vec_id < 8),
              sims AS (
                SELECT v.vec_id,
                       (CAST(FLOOR(list_cosine_similarity(v.embedding::DOUBLE[],
                                                          s.semb) * 1000000 + 0.5)
                             AS BIGINT) + 1000000) * 8 + (7 - s.seed_id) AS pk
                FROM embeddings v CROSS JOIN seeds s
                WHERE v.vec_id >= 8),
              best AS (
                SELECT vec_id, max(pk) AS pk FROM sims GROUP BY 1),
              assigned AS (
                SELECT 7 - (pk % 8) AS cluster, (pk // 8) - 1000000 AS g
                FROM best)
              SELECT cluster, CAST(count(*) AS BIGINT) AS n,
                     CAST(min(g) AS DOUBLE) / 1000000 AS min_sim,
                     CAST(max(g) AS DOUBLE) / 1000000 AS max_sim
              FROM assigned GROUP BY cluster""")),

    // ---- v16: pairwise-similarity histogram (corpus geometry probe) ------
    // WHAT the embedding space looks like — the sampled pairwise-cosine
    // distribution is the standard corpus-geometry diagnostic: synthetic
    // or mode-collapsed embeddings pile up near 1.0, healthy diverse
    // corpora spread wide, and a drifted encoder shows as a shifted mode
    // (v14 measures drift between snapshots; this profiles ONE snapshot).
    // The sample is a deterministic fixed-SIZE draw — top-64 by
    // md5(vec_id) (the p04 shuffle key: uniform, engine-portable) via
    // TakeOrdered, so the pair count is 64·63/2 = 2016 whatever the
    // corpus size: the quadratic stays capped by construction, the
    // 64-row side broadcasts, and no full pairwise join exists at any
    // scale. Cosines bucket into 20 fixed-width bins over [−1, 1] —
    // pure arithmetic on the bit-identical cosine both engines compute
    // (v01-proven), no float aggregation at all.
    ("v16_sim_histogram",
      (s, d) => {
        val sample = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            md5(col("vec_id").cast("string")).as("skey"))
          .orderBy(col("skey").asc, col("vec_id").asc)
          .limit(64)
          .select(col("vec_id"), col("embedding"))
        val a = sample.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        val b = sample.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        a.join(broadcast(b), col("a_id") < col("b_id"))
          .select(cosine(col("a_emb"), col("b_emb")).as("c"))
          .select(least(floor((col("c") + 1) * 10).cast("long"), lit(19L)).as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_pairs"))
          .select(col("bin"), (lit(-1.0) + col("bin") / 10.0).as("bin_lo"),
            col("n_pairs"))
      },
      Some("""WITH s AS (SELECT vec_id, embedding FROM embeddings
                         ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                         LIMIT 64),
              p AS (SELECT list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]) AS c
                    FROM s a JOIN s b ON a.vec_id < b.vec_id),
              bins AS (SELECT LEAST(CAST(FLOOR((c + 1) * 10) AS BIGINT),
                                    CAST(19 AS BIGINT)) AS bin
                       FROM p)
              SELECT bin,
                     CAST(-1 AS DOUBLE) + CAST(bin AS DOUBLE) / CAST(10 AS DOUBLE)
                       AS bin_lo,
                     CAST(count(*) AS BIGINT) AS n_pairs
              FROM bins GROUP BY bin""")),

    // ---- v17: per-dimension embedding health (collapsed-dim audit) -----
    // Embedding monitoring's first dashboard: per-DIMENSION stats across
    // the corpus. A dimension whose range collapses (all vectors agree)
    // carries no information — the classic symptom of representation
    // collapse or a truncated export; a dimension with outlier range
    // breaks quantizers (v08/v13 codebooks assume comparable scales).
    // Exactness discipline: each float is quantized to the 2^-16 grid
    // FIRST (float→double is exact, ×65536 is exact — power of two —
    // and floor is exact, in both engines), so every aggregate below is
    // INTEGER arithmetic with no merge-order sensitivity; the
    // mean/variance doubles at the end are computed from exact integer
    // sums by the same expression on both sides. Shape at scale: ONE
    // posexplode → dim-keyed aggregate; partial aggregation collapses
    // each scan task to ≤64 rows before the exchange, so the shuffle is
    // (tasks × dims) rows whatever the corpus size. sumsq fits BIGINT
    // to ~2^31 rows at this quantization; the 100 TB swap is the same
    // sums in DECIMAL(38,0) — the plan shape doesn't change.
    ("v17_dim_stats",
      (s, d) => {
        val q = 65536L
        def micro(c: org.apache.spark.sql.Column) = floor(c * 1000000 + 0.5) / 1000000
        // vec_id 0 is the reserved query vector (the v02/v13/v18 domain
        // rule) — the audit must describe the CORPUS the quantizers see.
        Tables.embeddings(s, d)
          .filter(col("vec_id") =!= 0)
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast("long").as("dim"),
            floor(col("x").cast("double") * q).cast("long").as("xq"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"),
            sum(col("xq")).as("sum_q"),
            sum(col("xq") * col("xq")).as("sumsq_q"),
            min(col("xq")).as("min_q"),
            max(col("xq")).as("max_q"))
          .withColumn("mean6", micro(col("sum_q").cast("double") / q / col("n")))
          .withColumn("var6", micro(
            col("sumsq_q").cast("double") / (lit(q).cast("double") * q) / col("n")
              - (col("sum_q").cast("double") / q / col("n"))
                * (col("sum_q").cast("double") / q / col("n"))))
          .withColumn("collapsed", (col("max_q") - col("min_q")) < lit(655L))
      },
      Some("""WITH x AS (SELECT generate_subscripts(embedding, 1) AS dim,
                                unnest(embedding::DOUBLE[]) AS x
                         FROM embeddings WHERE vec_id <> 0),
              xq AS (SELECT CAST(dim AS BIGINT) AS dim,
                            CAST(FLOOR(x * 65536) AS BIGINT) AS xq
                     FROM x),
              agg AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(xq) AS BIGINT) AS sum_q,
                        CAST(sum(xq * xq) AS BIGINT) AS sumsq_q,
                        min(xq) AS min_q, max(xq) AS max_q
                      FROM xq GROUP BY 1)
              SELECT dim, n, sum_q, sumsq_q, min_q, max_q,
                     FLOOR(CAST(sum_q AS DOUBLE) / 65536 / n
                           * 1000000 + 0.5) / 1000000 AS mean6,
                     FLOOR((CAST(sumsq_q AS DOUBLE) / (65536.0 * 65536) / n
                            - (CAST(sum_q AS DOUBLE) / 65536 / n)
                              * (CAST(sum_q AS DOUBLE) / 65536 / n))
                           * 1000000 + 0.5) / 1000000 AS var6,
                     (max_q - min_q) < 655 AS collapsed
              FROM agg""")),

    // ---- v18: SQ8 quantizer distortion audit ----------------------------
    // Before shipping a quantized index (v13's SQ8, or PQ), the question
    // is "how much cosine am I giving up?" — answered per DIMENSION by
    // the reconstruction error of the quantizer against the real floats.
    // Reuses v13's EXACT quantization rule (same clamp, same rounding,
    // same degenerate-dim pin), reconstructs x̂ = mn + q·(mx−mn)/255,
    // and reports per-dim step size, worst absolute error, and MSE. The
    // error doubles are deterministic (identical op order both engines);
    // the MSE SUM is made merge-order-insensitive the v17 way — each
    // row's err² is floored onto the 1e-12 integer grid first, so the
    // aggregate is exact BIGINT math (fits to ~1e8 rows × step²;
    // DECIMAL(38,0) is the swap past that). max(|err|) needs no grid:
    // max is order-free. Shape at scale: one posexplode pass for stats
    // (64-key map-side-combined), one for errors — both shuffles carry
    // (tasks × dims) partials only.
    ("v18_sq8_distortion",
      (s, d) => {
        val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        val stats = e.select(posexplode(col("embedding")))
          .groupBy(col("pos"))
          .agg(min(col("col").cast("double")).as("mn"),
            max(col("col").cast("double")).as("mx"))
        val err = e.select(posexplode(col("embedding")))
          .join(stats, "pos")
          .withColumn("x", col("col").cast("double"))
          .withColumn("q",
            when(col("mx") === col("mn"), lit(0.0))
              .otherwise(least(lit(255.0), greatest(lit(0.0),
                floor((col("x") - col("mn")) * 255 / (col("mx") - col("mn"))
                  + 0.5)))))
          .withColumn("xhat",
            when(col("mx") === col("mn"), col("mn"))
              .otherwise(col("mn") + col("q") * (col("mx") - col("mn")) / 255))
          .withColumn("e", col("x") - col("xhat"))
        err.groupBy((col("pos") + 1).cast("long").as("dim"))
          .agg(count(lit(1)).as("n"),
            (floor((max(col("mx")) - max(col("mn"))) / 255 * 1000000000L + 0.5)
              / 1000000000L).as("step9"),
            (floor(max(abs(col("e"))) * 1000000000L + 0.5) / 1000000000L)
              .as("max_abs_err9"),
            (floor(sum(floor(col("e") * col("e") * 1e12).cast("long"))
              .cast("double") / 1e12 / count(lit(1)) * 1000000000L + 0.5)
              / 1000000000L).as("mse9"))
      },
      Some("""WITH base AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
                WHERE vec_id <> 0),
              x AS MATERIALIZED (
                SELECT generate_subscripts(emb, 1) AS i, unnest(emb) AS x
                FROM base),
              stats AS MATERIALIZED (
                SELECT i, min(x) AS mn, max(x) AS mx FROM x GROUP BY i),
              err AS MATERIALIZED (
                SELECT x.i, x.x, s.mn, s.mx,
                       CASE WHEN s.mx = s.mn THEN CAST(0 AS DOUBLE)
                            ELSE LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
                              FLOOR((x.x - s.mn) * 255 / (s.mx - s.mn) + 0.5))) END AS q
                FROM x JOIN stats s ON s.i = x.i),
              e2 AS (SELECT i, mn, mx,
                       x - (CASE WHEN mx = mn THEN mn
                                 ELSE mn + q * (mx - mn) / 255 END) AS e
                     FROM err)
              SELECT CAST(i AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
                     FLOOR((max(mx) - max(mn)) / 255 * 1000000000 + 0.5)
                       / 1000000000 AS step9,
                     FLOOR(max(abs(e)) * 1000000000 + 0.5) / 1000000000
                       AS max_abs_err9,
                     FLOOR(CAST(sum(CAST(FLOOR(e * e * 1e12) AS BIGINT)) AS DOUBLE)
                           / 1e12 / count(*) * 1000000000 + 0.5) / 1000000000
                       AS mse9
              FROM e2 GROUP BY 1""")),

    // ---- v19: quantized-candidate recall evaluation ---------------------
    // v18 reports the quantizer's GEOMETRIC error; the number a search
    // team actually ships on is RECALL — how many of the true top-k the
    // quantized candidate ranking keeps before re-rank. Evaluated on
    // the SQ8 asymmetric-ADC path (v13's shared scorer) against exact
    // cosine, both DETERMINISTIC, so unlike the LSH/IVF/PQ recalls
    // (probabilistic — AnnSpec territory) this one is oracle-exact.
    // This operator EARNED ITS KEEP on arrival: the first registered
    // v13 dotted raw codes, and this eval measured recall 0/10 — the
    // affine distortion argument in v13's Scaladoc is its finding. The
    // ADC path it now measures holds 20/20. Both rankings are TakeOrdered top-20 (bounded
    // frames — no corpus-wide window anywhere); ranks come from
    // row_number over the 20-row frames, hits@k from one inner join of
    // the two frames, recall = hits/k exact. Shape at scale: two
    // TakeOrdered scans + 20-row frame algebra.
    ("v19_recall_eval",
      (s, d) => {
        val all = Tables.embeddings(s, d)
        val e = all.filter(col("vec_id") =!= 0)
        val sqTop = sq8AdcScored(e, sq8Stats(e), queryVecD(s, d))
          .orderBy(col("sq_score").desc, col("vec_id").asc).limit(20)
          .withColumn("sr", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("sq_score").desc, col("vec_id").asc)))
          .select(col("vec_id"), col("sr"))
        val exTop = e.crossJoin(broadcast(queryVec(s, d)))
          .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("cs"))
          .orderBy(col("cs").desc, col("vec_id").asc).limit(20)
          .withColumn("er", row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("cs").desc, col("vec_id").asc)))
          .select(col("vec_id"), col("er"))
        val joined = exTop.join(sqTop, "vec_id").localCheckpoint()
        val ks = Seq(1, 5, 10, 20).map(k => s.range(k, k + 1).select(col("id").cast("int").as("k")))
          .reduce(_ union _)
        // LEFT join on true (not crossJoin): if the frames ever shared
        // no ids, every k must still report hits = 0, not vanish.
        ks.join(joined, lit(true), "left")
          .groupBy(col("k"))
          .agg(count(when(col("er") <= col("k") && col("sr") <= col("k"), 1))
            .as("hits"))
          .select(col("k").cast("long").as("k"), col("hits"),
            (col("hits").cast("double") / col("k")).as("recall"))
      },
      Some(s"""WITH $sq8AdcOracleCtes,
              sqtop AS MATERIALIZED (
                SELECT vec_id,
                       row_number() OVER (ORDER BY sq_score DESC, vec_id ASC) AS sr
                FROM (SELECT vec_id, sq_score FROM sc
                      ORDER BY sq_score DESC, vec_id ASC LIMIT 20)),
              extop AS MATERIALIZED (
                SELECT vec_id,
                       row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS er
                FROM (SELECT b.vec_id,
                        list_cosine_similarity(b.emb, q.emb) AS cs
                      FROM base b, (SELECT emb FROM base WHERE vec_id = 0) q
                      WHERE b.vec_id <> 0
                      ORDER BY cs DESC, vec_id ASC LIMIT 20)),
              j AS MATERIALIZED (
                SELECT e.vec_id, e.er, s.sr FROM extop e JOIN sqtop s USING (vec_id)),
              ks AS (SELECT unnest([1, 5, 10, 20]) AS k)
              SELECT CAST(k AS BIGINT) AS k,
                     CAST(count(*) FILTER (WHERE er <= k AND sr <= k) AS BIGINT)
                       AS hits,
                     CAST(count(*) FILTER (WHERE er <= k AND sr <= k) AS DOUBLE)
                       / k AS recall
              FROM ks LEFT JOIN j ON true
              GROUP BY k""")),

    // ---- v21: IVF nProbe tuning curve (the operational knob, measured) -
    // Every IVF deployment asks one question first: how many cells must
    // a probe read to hit the recall target? This operator answers it
    // the way v19 answers quantization loss — an eval harness over the
    // production operators themselves: ONE cell-assignment pass
    // (localCheckpoint'd — the sweep re-filters it, never re-assigns),
    // then per sweep point a partition-pruned scan → exact top-20 →
    // recall against brute force. Driver sees 20 ids and two scalars
    // per point (the spark.ml eval pattern, same as AnnIndexSpec's
    // measurements); the 5-row result frame is the tuning table a
    // capacity planner reads (frac_scanned ≈ nProbe/k is the I/O cost
    // at 100 TB under the partitioned-by-cell layout). Oracle-checked
    // from v05's centroid export: DuckDB re-derives assignment, the
    // probe ranking, and the whole 5-point curve (scan fractions AND
    // recalls) independently; monotonicity and the full-probe recall=1
    // endpoint additionally pinned in AnnSpec.
    ("v21_nprobe_curve",
      (s, d) => {
        import s.implicits._
        val k = 16
        val e = Tables.embeddings(s, d)
        val cents = AnnIndex.trainCentroids(e, k)
        OracleExport.writeOnce({
          cents.toIndexedSeq.zipWithIndex
            .map { case (c, i) => (i, c.toIndexedSeq) }.toDF("cell", "centroid")
        }, OracleExport.IvfCentPath, OracleExport.embKeyFor(e, d))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head.getSeq[Float](0).toArray
        val assigned = e.filter(col("vec_id") =!= 0)
          .withColumn("cell", AnnIndex.cellOf(col("embedding"), cents))
          .localCheckpoint()
        val total = assigned.count()
        def top20(df: DataFrame): Set[Long] = df
          .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cs"))
          .orderBy(col("cs").desc, col("vec_id").asc).limit(20)
          .collect().map(_.getLong(0)).toSet
        val exact = top20(assigned)
        Seq(1, 2, 4, 8, 16).map { nProbe =>
          val cells = AnnIndex.probeCells(qv, cents, nProbe)
          val scanned = assigned.filter(col("cell").isin(cells: _*))
          val got = top20(scanned)
          (nProbe.toLong, cells.size.toLong,
            math.floor(scanned.count().toDouble / total * 1000000 + 0.5) / 1000000,
            math.floor(exact.intersect(got).size.toDouble / exact.size
              * 1000000 + 0.5) / 1000000)
        }.toDF("n_probe", "n_cells", "frac_scanned", "recall_at_20")
      },
      Some(s"""WITH cents AS MATERIALIZED (
                 SELECT cell, centroid::DOUBLE[] AS c
                 FROM ${OracleExport.readSql(OracleExport.IvfCentPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
               asg AS MATERIALIZED (
                 SELECT e.vec_id,
                        list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cs,
                        (SELECT c.cell FROM cents c
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.c) DESC,
                                  c.cell ASC LIMIT 1) AS cell
                 FROM embeddings e, q WHERE e.vec_id <> 0),
               tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM asg),
               ranked AS MATERIALIZED (
                 SELECT cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(c, qv) DESC, cell ASC) AS rk
                 FROM cents, q),
               exact AS MATERIALIZED (
                 SELECT vec_id FROM asg ORDER BY cs DESC, vec_id ASC LIMIT 20),
               en AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM exact),
               probes AS (SELECT unnest([1, 2, 4, 8, 16]) AS p)
               SELECT CAST(p AS BIGINT) AS n_probe,
                      CAST(p AS BIGINT) AS n_cells,
                      FLOOR((SELECT count(*) FROM asg a JOIN ranked r ON a.cell = r.cell
                             WHERE r.rk <= probes.p)
                            / tot.n * 1000000 + 0.5) / 1000000 AS frac_scanned,
                      FLOOR((SELECT count(*)
                             FROM (SELECT a.vec_id FROM asg a JOIN ranked r ON a.cell = r.cell
                                   WHERE r.rk <= probes.p
                                   ORDER BY a.cs DESC, a.vec_id ASC LIMIT 20) g
                             JOIN exact x ON g.vec_id = x.vec_id)
                            / en.n * 1000000 + 0.5) / 1000000 AS recall_at_20
               FROM probes, tot, en""")),

    // ---- v22: batch ANN join through the IVF index ----------------------
    // v07 is the exact batch KNN join (every query × every vector —
    // right when the query side is small); this is its index-accelerated
    // form for query BATCHES at corpus scale: both sides map to IVF
    // cells (corpus rows to their cell, each query to its nProbe nearest
    // — an expression-level top-nProbe over the broadcast centroid
    // model, NO driver round trip per query), and the candidate join is
    // an EQUI-join on cell — each query meets only nProbe/k of the
    // corpus, co-located by the join key. Per-query top-5 is the
    // GroupedTopK aggregate (no per-group sort). A corpus row lives in
    // exactly one cell, so no candidate dedup is needed. At 100 TB the
    // corpus side is the AnnIndex.writeIvf partitioned layout and the
    // join prunes to probed directories. Oracle-checked from the
    // centroid export: DuckDB re-derives corpus assignment, each
    // query's dot-ranked probe cells, and the per-query top-5; per-query
    // recall vs exact v07 additionally pinned in AnnSpec.
    ("v22_knn_join_ivf",
      (s, d) => {
        val k = 16; val nProbe = 4
        val e = Tables.embeddings(s, d)
        val cents = AnnIndex.trainCentroids(e, k)
        OracleExport.writeOnce({
          import s.implicits._
          cents.toIndexedSeq.zipWithIndex
            .map { case (c, i) => (i, c.toIndexedSeq) }.toDF("cell", "centroid")
        }, OracleExport.IvfCentPath, OracleExport.embKeyFor(e, d))
        val corpus = e.filter(col("vec_id") >= 10)
          .withColumn("cell", AnnIndex.cellOf(col("embedding"), cents))
        // Per-row top-nProbe cells: score against every centroid (array
        // of structs), sort, slice — all codegen'd expression work.
        val scoredCells = array(cents.indices.map(i =>
          struct(dot(col("qv"), lit(cents(i))).as("s"), lit(i).as("c"))): _*)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
          .withColumn("probe", slice(reverse(array_sort(scoredCells)), 1, nProbe))
          .select(col("q_id"), col("qv"),
            explode(transform(col("probe"), x => x.getField("c"))).as("cell"))
        val cand = corpus.join(broadcast(q), "cell")
          .select(col("q_id"), col("vec_id"),
            cosine(col("embedding"), col("qv")).as("cos_sim"))
        org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          cand, Seq("q_id"), Seq("cos_sim" -> true, "vec_id" -> false), 5)
      },
      Some(s"""WITH cents AS MATERIALIZED (
                 SELECT cell, centroid::DOUBLE[] AS c
                 FROM ${OracleExport.readSql(OracleExport.IvfCentPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               asg AS MATERIALIZED (
                 SELECT e.vec_id, e.embedding::DOUBLE[] AS emb,
                        (SELECT c.cell FROM cents c
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.c) DESC,
                                  c.cell ASC LIMIT 1) AS cell
                 FROM embeddings e WHERE e.vec_id >= 10),
               qp AS MATERIALIZED (
                 -- the engine ranks probe cells by DOT (reverse(array_sort))
                 -- with ties to the HIGHER cell id — mirror both.
                 SELECT e.vec_id AS q_id, e.embedding::DOUBLE[] AS qv, c.cell,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
                                   c.cell DESC) AS rk
                 FROM embeddings e, cents c WHERE e.vec_id < 10),
               cand AS (
                 SELECT q.q_id, a.vec_id,
                        list_cosine_similarity(a.emb, q.qv) AS cos_sim,
                        row_number() OVER (PARTITION BY q.q_id
                          ORDER BY list_cosine_similarity(a.emb, q.qv) DESC,
                                   a.vec_id ASC) AS rn
                 FROM qp q JOIN asg a ON a.cell = q.cell AND q.rk <= 4)
               SELECT q_id, vec_id, cos_sim FROM cand WHERE rn <= 5""")),

    // ---- v23: binary (1-bit) Hamming KNN --------------------------------
    // The most aggressive quantization rung under v13's SQ8 and v08's PQ:
    // sign bits only — 64 dims pack into TWO 32-bit words (16 bytes/row
    // incl. id vs 256 float bytes, 16×), and candidate scoring is two
    // XOR+popcounts, the cheapest distance that exists. For unit vectors
    // sign-agreement tracks cosine (1-bit LSH: P[sign match] =
    // 1 − θ/π, Charikar 2002), so Hamming top-20 is a candidate set and
    // the exact cosine re-ranks the survivors — v13's shape with an even
    // smaller standing column. Packing uses two ADDITIVE 32-bit words
    // (values < 2^32 — no sign-bit overflow in either engine's BIGINT),
    // is pure map-side expression work, and the top-k is TakeOrdered;
    // the oracle rebuilds identical words from the raw floats. At scale
    // the packed words are the persisted column (AnnIndex discipline)
    // and the re-rank touches 20 rows.
    ("v23_knn_hamming",
      (s, d) => {
        def pack(src: String, lo: Int) = expr(
          s"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + " +
          s"IF(element_at($src, i + ${lo + 1}) > CAST(0 AS FLOAT), shiftleft(1L, i), 0L))")
        val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"),
            pack("embedding", 0).as("w1"), pack("embedding", 32).as("w2"))
        val q = queryVec(s, d).select(col("qv"),
          pack("qv", 0).as("qw1"), pack("qv", 32).as("qw2"))
        e.crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"), col("qv"),
            expr("CAST(bit_count(w1 ^ qw1) + bit_count(w2 ^ qw2) AS BIGINT)")
              .as("hamming"))
          .orderBy(col("hamming").asc, col("vec_id").asc).limit(20)
          .select(col("vec_id"), col("hamming"),
            cosine(col("embedding"), col("qv")).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
                         FROM embeddings WHERE vec_id <> 0),
              q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
              pk AS (SELECT vec_id, emb,
                       CAST(list_sum(list_transform(range(1, 33), i ->
                         CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE 0 END)) AS BIGINT) AS w1,
                       CAST(list_sum(list_transform(range(1, 33), i ->
                         CASE WHEN emb[i + 32] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE 0 END)) AS BIGINT) AS w2
                     FROM e),
              qk AS (SELECT qv,
                       CAST(list_sum(list_transform(range(1, 33), i ->
                         CASE WHEN qv[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE 0 END)) AS BIGINT) AS qw1,
                       CAST(list_sum(list_transform(range(1, 33), i ->
                         CASE WHEN qv[i + 32] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                              ELSE 0 END)) AS BIGINT) AS qw2
                     FROM q),
              h AS (SELECT vec_id, emb, qv,
                      CAST(bit_count(xor(w1, qw1)) + bit_count(xor(w2, qw2))
                        AS BIGINT) AS hamming
                    FROM pk, qk),
              top AS (SELECT * FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 20)
              SELECT vec_id, hamming, list_cosine_similarity(emb, qv) AS cos_sim
              FROM top ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""")),

    // ---- v24: matrix-free power iteration (top principal direction) -----
    // The embedding-health rung above v17's per-dim stats: the corpus's
    // dominant direction and its energy — anisotropy diagnosis (Ethayarajh
    // 2019: contextual embeddings collapse toward a common direction;
    // a big λ with one fat loading says "centering/whitening needed
    // before cosine retrieval"). NEVER materializes the 64×64 covariance:
    // each iteration computes X·(Xᵀv)/n directly — one broadcast of the
    // 64-float v, one map-side dot per row, and a 64-key aggregate whose
    // exchange carries partial sums (map-side combined), not rows. The
    // posexplode fan-out is narrow map work; nothing corpus-sized
    // shuffles. Float discipline: the per-row dot is gridded (1e-9), the
    // per-dim mean is gridded, the norm and the normalized loadings are
    // gridded — six iterations stay bit-identical to the oracle's
    // unrolled CTE replay (the g01/g07 iterative contract). λ here is
    // the dominant eigenvalue of (1/n)·XᵀX ≈ the top explained energy
    // of the (uncentered) second moment.
    ("v24_power_iteration",
      (s, d) => {
        val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding")).localCheckpoint()
        val v0 = s.range(1).select(
          expr(s"transform(sequence(1, $SqDim), i -> CAST(0.125 AS DOUBLE))").as("pv"),
          lit(0.0).as("nrm"))
        Graph.unroll(v0, PowerIters) { (v, _) =>
          val scored = e.crossJoin(broadcast(v.select(col("pv"))))
            .select(col("embedding"), Graph.grid9(expr(
              "aggregate(zip_with(embedding, pv, (x, y) -> x * y), " +
              "CAST(0 AS DOUBLE), (a, z) -> a + z)")).as("sc"))
          val dims = scored
            .select(posexplode(col("embedding")), col("sc"))
            .groupBy(col("pos"))
            .agg(Graph.grid9(avg(col("col") * col("sc"))).as("nv"))
          dims
            .agg(sort_array(collect_list(struct(col("pos"), col("nv")))).as("a"))
            .select(expr("transform(a, x -> x.nv)").as("raw"))
            .select(col("raw"), Graph.grid9(sqrt(expr(
              "aggregate(raw, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")))
              .as("nrm"))
            .select(expr(
              "transform(raw, x -> FLOOR(x / nrm * 1000000000 + 0.5) / 1000000000)")
              .as("pv"), col("nrm"))
        }.select(col("nrm").as("lambda"), posexplode(col("pv")))
          .select(col("pos"), col("col").as("loading"), col("lambda"))
      },
      Some(powerIterationOracle(PowerIters))),

    // ---- v25: PQ rerank-depth tuning curve -------------------------------
    // v21's measure-don't-guess discipline applied to v08's knob: the
    // rerank pool depth is THE recall/IO trade of a PQ deployment
    // (deeper pool = more exact-distance reads per query), so the curve
    // (recall@20 vs pool depth vs fraction of the corpus re-read) is
    // what a capacity planner tunes from. The ADC scores are computed
    // ONCE (checkpointed; one corpus codes pass), each depth is a
    // TakeOrdered pool + bounded exact re-rank, and the driver sees 20
    // ids per depth (the v21 eval pattern). Oracle-checked end to end
    // from the SAME codebook export as v08 — DuckDB re-derives encode,
    // LUTs, ADC ranking, every pool, every recall.
    ("v25_pq_rerank_curve",
      (s, d) => {
        import s.implicits._
        val m = 8; val ksub = 32
        val e = Tables.embeddings(s, d)
        val books = Pq.train(e, m, ksub)
        OracleExport.writeOnce({
          val subDim = books.length / (m * ksub)
          (for (j <- 0 until m; c <- 0 until ksub) yield
            (j, c, books.slice((j * ksub + c) * subDim,
              (j * ksub + c + 1) * subDim).toIndexedSeq)).toDF("sub", "code", "b")
        }, OracleExport.PqBookPath, OracleExport.embKeyFor(e, d))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val (dotL, nrmL) = Pq.luts(qv, books, m, ksub)
        val adc = e.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"),
            org.apache.spark.sql.graft.VectorExpressions.pqAdcCosine(
              org.apache.spark.sql.graft.VectorExpressions.pqEncode(
                col("embedding"), books.toSeq, m, ksub),
              dotL.toSeq, nrmL.toSeq, m, ksub).as("adc"))
          .localCheckpoint()
        val total = adc.count()
        def top20(df: DataFrame): Set[Long] = df
          .select(col("vec_id"), cosine(col("embedding"), lit(qv)).as("cs"))
          .orderBy(col("cs").desc, col("vec_id").asc).limit(20)
          .collect().map(_.getLong(0)).toSet
        val exact = top20(adc)
        Seq(20, 50, 100, 200).map { depth =>
          val pool = adc.orderBy(col("adc").desc, col("vec_id").asc).limit(depth)
          val got = top20(pool)
          (depth.toLong,
            math.floor(depth.toDouble / total * 1000000 + 0.5) / 1000000,
            math.floor(exact.intersect(got).size.toDouble / exact.size
              * 1000000 + 0.5) / 1000000)
        }.toDF("rerank_depth", "frac_reranked", "recall_at_20")
      },
      Some(s"""WITH books AS MATERIALIZED (
                 SELECT sub, code, b::DOUBLE[] AS b
                 FROM ${OracleExport.readSql(OracleExport.PqBookPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               e AS MATERIALIZED (
                 SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
               q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
               lut AS MATERIALIZED (
                 SELECT bk.sub, bk.code,
                        list_sum(list_transform(range(1, 9),
                          t -> q.qv[bk.sub * 8 + t] * bk.b[t])) AS dl,
                        list_sum(list_transform(range(1, 9),
                          t -> bk.b[t] * bk.b[t])) AS nl
                 FROM books bk, q),
               dists AS MATERIALIZED (
                 SELECT e.vec_id, bk.sub, bk.code,
                        list_sum(list_transform(range(1, 9),
                          t -> (e.emb[bk.sub * 8 + t] - bk.b[t])
                               * (e.emb[bk.sub * 8 + t] - bk.b[t]))) AS dist
                 FROM e, books bk WHERE e.vec_id <> 0),
               codes AS MATERIALIZED (
                 SELECT vec_id, sub, code FROM (
                   SELECT vec_id, sub, code,
                          row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY dist ASC, code ASC) AS rn
                   FROM dists) WHERE rn = 1),
               adc AS MATERIALIZED (
                 SELECT c.vec_id, e.emb,
                        CASE WHEN list_sum(list(l.nl ORDER BY l.sub)) = 0 THEN 0.0
                             ELSE list_sum(list(l.dl ORDER BY l.sub))
                                  / sqrt(list_sum(list(l.nl ORDER BY l.sub))) END AS adc
                 FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
                 JOIN e ON e.vec_id = c.vec_id
                 GROUP BY c.vec_id, e.emb),
               ranked AS MATERIALIZED (
                 SELECT vec_id, emb,
                        row_number() OVER (ORDER BY adc DESC, vec_id ASC) AS rk
                 FROM adc),
               tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM adc),
               exact AS MATERIALIZED (
                 SELECT a.vec_id FROM adc a, q
                 ORDER BY list_cosine_similarity(a.emb, q.qv) DESC, a.vec_id ASC
                 LIMIT 20),
               en AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM exact),
               depths AS (SELECT unnest([20, 50, 100, 200]) AS depth)
               SELECT CAST(p.depth AS BIGINT) AS rerank_depth,
                      FLOOR(p.depth / tot.n * 1000000 + 0.5) / 1000000 AS frac_reranked,
                      FLOOR((SELECT count(*)
                             FROM (SELECT a.vec_id FROM ranked a, q
                                   WHERE a.rk <= p.depth
                                   ORDER BY list_cosine_similarity(a.emb, q.qv) DESC,
                                            a.vec_id ASC LIMIT 20) g
                             JOIN exact x ON g.vec_id = x.vec_id)
                            / en.n * 1000000 + 0.5) / 1000000 AS recall_at_20
               FROM depths p, tot, en""")),

    // ---- v26: kNN label classification (leave-group-out eval) ----------
    // The EVAL harness for the embedding space itself: hold out every
    // 10th vector, predict its label by majority vote over its k=10
    // nearest neighbors in the remainder (cosine; vote ties to the
    // SMALLEST label — integer rule, no float tie surface), report
    // per-class accuracy. This is the label-consistency audit run before
    // trusting embeddings for semantic dedup (v11/d05) or cluster-based
    // mixing (v15) — low accuracy means the near-dup thresholds are
    // operating on noise. Plan shape = v07's batch-kNN contract: the
    // held-out set is BOUNDED — every 10th vector up to the
    // [[EvalIdCap]] id ceiling (an eval needs a fixed-size sample, not
    // a corpus-proportional one; without the cap the broadcast grows
    // with the corpus and hits Spark's 8 GB broadcast limit) — and
    // BROADCAST (≤ 5k×64 floats ≈ 1.3 MB); one map-side cosine pass
    // over the train scan; two-phase GroupedTopK keeps ≤ |test|·k rows
    // per task, so no scored-corpus shuffle ever happens. The vote
    // argmax is ONE
    // max(struct) aggregate (g14's rule), the per-class rollup is tiny.
    // At index scale the scoring pass swaps for v22's IVF probe — the
    // eval rule (vote, tie-break, accuracy grid) is unchanged.
    ("v26_knn_classify",
      (s, d) => {
        val k = 10
        val e = Tables.embeddings(s, d)
        val test = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < EvalIdCap)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
            col("label").as("true_label"))
        val scored = e.filter(col("vec_id") % 10 =!= 0)
          .crossJoin(broadcast(test))
          .select(col("q_id"), col("true_label"), col("vec_id"), col("label"),
            cosine(col("embedding"), col("qv")).as("cos_sim"))
        val top = org.apache.spark.sql.graft.GroupedTopKApi.topKPerGroup(
          scored, Seq("q_id"), Seq("cos_sim" -> true, "vec_id" -> false), k)
        top.groupBy(col("q_id"), col("true_label"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("q_id"), col("true_label"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
          .select(col("q_id"), col("true_label"),
            (-col("m.nl")).as("pred_label"))
          .groupBy(col("true_label"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("true_label"), col("n_test"), col("n_correct"),
            (floor(col("n_correct").cast("double") / col("n_test")
              * 1000000 + 0.5) / 1000000).as("accuracy"))
      },
      Some(s"""WITH q AS MATERIALIZED (
                SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label AS true_label
                FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < $EvalIdCap),
              sc AS MATERIALIZED (
                SELECT q.q_id, q.true_label, e.vec_id, e.label,
                       row_number() OVER (PARTITION BY q.q_id
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                                  e.vec_id ASC) AS rn
                FROM embeddings e, q WHERE e.vec_id % 10 <> 0),
              v AS (SELECT q_id, true_label, label, CAST(count(*) AS BIGINT) AS cnt
                    FROM sc WHERE rn <= 10 GROUP BY 1, 2, 3),
              p AS (SELECT q_id, true_label, label AS pred_label FROM (
                      SELECT q_id, true_label, label,
                             row_number() OVER (PARTITION BY q_id
                               ORDER BY cnt DESC, label ASC) AS rn2
                      FROM v) WHERE rn2 = 1)
              SELECT true_label,
                     CAST(count(*) AS BIGINT) AS n_test,
                     CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_correct,
                     FLOOR(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS accuracy
              FROM p GROUP BY true_label""")),

    // ---- v27: per-label centroid-margin audit (simplified silhouette) --
    // The GEOMETRY complement to v26's vote eval: how far does each
    // vector sit from its own label's centroid versus the nearest OTHER
    // centroid, in cosine? margin = cos(v, c_own) − max_other cos(v, c_l);
    // a label whose mean margin ≈ 0 contributes nothing to any
    // label-conditioned operator. Centroids are grid9(avg) per
    // (label, dim) — computed INDEPENDENTLY by both engines (no model
    // export): the 1e-9 grid re-synchronizes the merge-order-dependent
    // means (v14's discipline), and everything downstream is the proven
    // sequential-fold kernel (the sq8 aggregate↔list_sum pair, identical
    // op order: dot / (‖v‖ · ‖c‖)). Per-row margins are gridded to
    // micro-integers BEFORE the per-label mean (p17's exact-long-sum
    // rule — no order-dependent float sum survives). Plan: one
    // 64×|labels|-key exploded aggregate (map-side combined), the
    // |labels|-row centroid table broadcasts back, one map-side scoring
    // pass, one |labels|-key rollup — at 100 TB the corpus is read
    // twice and shuffles only micro-longs.
    ("v27_label_margin",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cent = e.select(col("label"), posexplode(col("embedding")))
          .groupBy(col("label"), col("pos"))
          .agg(Graph.grid9(avg(col("col"))).as("m"))
          .groupBy(col("label").as("lc"))
          .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("sm"))
          .select(col("lc"), expr("transform(sm, x -> x.m)").as("c"))
          .withColumn("cnorm", expr(
            """sqrt(aggregate(transform(sequence(1, size(c)),
              |  i -> element_at(c, i) * element_at(c, i)), 0D, (a, v) -> a + v))""".stripMargin))
        e.crossJoin(broadcast(cent))
          .withColumn("cs", expr(
            """aggregate(transform(sequence(1, size(c)),
              |  i -> CAST(element_at(embedding, i) AS DOUBLE) * element_at(c, i)),
              |  0D, (a, v) -> a + v)""".stripMargin)
            / (l2norm(col("embedding")) * col("cnorm")))
          .groupBy(col("vec_id"), col("label"))
          .agg(max(when(col("lc") === col("label"), col("cs"))).as("own"),
            max(when(col("lc") =!= col("label"), col("cs"))).as("best_other"))
          .select(col("label"),
            floor((col("own") - col("best_other")) * 1000000 + 0.5)
              .cast("long").as("mm"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("mm") > 0, 1L).otherwise(0L)).as("n_consistent"),
            (floor(sum(col("mm")).cast("double") / count(lit(1)) + 0.5)
              / 1000000).as("mean_margin"))
      },
      Some(s"""WITH base AS MATERIALIZED (
                 SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
               ex AS (SELECT label, vec_id, i - 1 AS pos, emb[i] AS v
                      FROM base, range(1, ${SqDim + 1}) t(i)),
               cg AS (SELECT label AS lc, pos,
                             FLOOR(avg(v) * 1000000000 + 0.5) / 1000000000 AS m
                      FROM ex GROUP BY 1, 2),
               cent AS (SELECT lc, list(m ORDER BY pos) AS c FROM cg GROUP BY lc),
               cn AS (SELECT lc, c,
                             sqrt(list_sum(list_transform(range(1, ${SqDim + 1}),
                               i -> c[i] * c[i]))) AS cnorm
                      FROM cent),
               sc AS MATERIALIZED (
                 SELECT b.vec_id, b.label, n.lc,
                        list_sum(list_transform(range(1, ${SqDim + 1}),
                          i -> b.emb[i] * n.c[i]))
                        / (sqrt(list_dot_product(b.emb, b.emb)) * n.cnorm) AS cs
                 FROM base b, cn n),
               pv AS (SELECT vec_id, label,
                             max(CASE WHEN lc = label THEN cs END) AS own,
                             max(CASE WHEN lc <> label THEN cs END) AS best_other
                      FROM sc GROUP BY 1, 2),
               m AS (SELECT label,
                            CAST(FLOOR((own - best_other) * 1000000 + 0.5) AS BIGINT) AS mm
                     FROM pv)
               SELECT label,
                      CAST(count(*) AS BIGINT) AS n_vecs,
                      CAST(sum(CASE WHEN mm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
                      FLOOR(CAST(sum(mm) AS DOUBLE) / count(*) + 0.5) / 1000000 AS mean_margin
               FROM m GROUP BY label""")),

    // ---- v28: spherical k-means (Lloyd) over the embedding corpus ------
    // The TRAINING loop v15 only runs the assignment pass of: k=8 seeds
    // (the deterministic lowest-vec_id prefix), two Lloyd updates, one
    // final assignment. Spherical = assign by max cosine; the update is
    // the plain per-dimension member mean WITHOUT renormalization —
    // cosine is scale-invariant in the centroid, so the un-normalized
    // mean assigns identically to the normalized one and costs one
    // aggregate less. Cross-engine exactness composes three proven
    // rules: the v27 sequential-fold dot/norm kernels, v15's packed-long
    // argmax (cosine gridded to 1e-6 while scaled, cluster tie-break in
    // the low 3 bits — argmin is max() over BIGINTs, never a float
    // compare), and grid9 on the update means (v14's re-sync
    // discipline), so three iterations cannot drift. Empty clusters die
    // (standard Lloyd) — both engines drop them in the same GROUP BY.
    // Plan shape per iteration: ONE corpus scan, assignment entirely
    // map-side (all k centroids ride in a single collected row that
    // BROADCASTS — k·dim doubles, not a join), and the only exchange is
    // the k×dim-key update aggregate, map-side combined to ≤k·dim rows
    // per task. At 100 TB: 3 scans, 3 tiny exchanges, zero corpus
    // shuffles — the textbook distributed-k-means layout.
    ("v28_kmeans", (s, d) => kmeansIters(s, d, iters = 2),
      Some {
        // one Lloyd pass as CTEs: assignment aN (packed-long argmax over
        // the e × centroid cross join), member means uN (grid9), rebuilt
        // centroid lists cN. MATERIALIZED per the g01 lesson — every cN
        // feeds the next assignment twice (dot and norm).
        def step(i: Int, prev: String): String =
          s"""a$i AS MATERIALIZED (
             |  SELECT e.vec_id,
             |         max((CAST(FLOOR(list_sum(list_transform(range(1, ${SqDim + 1}),
             |                j -> e.emb[j] * c.c[j])) / (e.vn * c.cnorm)
             |                * 1000000 + 0.5) AS BIGINT)
             |              + 1000000) * 8 + (7 - c.kc)) AS pk
             |  FROM e, $prev c GROUP BY 1),
             |u$i AS MATERIALIZED (
             |  SELECT 7 - (a.pk % 8) AS kc, j - 1 AS pos,
             |         FLOOR(avg(e.emb[j]) * 1000000000 + 0.5) / 1000000000 AS m
             |  FROM a$i a JOIN e USING (vec_id), range(1, ${SqDim + 1}) t(j)
             |  GROUP BY 1, 2),
             |cl$i AS MATERIALIZED (
             |  SELECT kc, list(m ORDER BY pos) AS c FROM u$i GROUP BY kc),
             |c$i AS MATERIALIZED (
             |  SELECT kc, c,
             |         sqrt(list_sum(list_transform(range(1, ${SqDim + 1}),
             |           j -> c[j] * c[j]))) AS cnorm
             |  FROM cl$i)""".stripMargin
        s"""WITH e AS MATERIALIZED (
           |  SELECT vec_id, embedding::DOUBLE[] AS emb,
           |         sqrt(list_dot_product(embedding::DOUBLE[],
           |                               embedding::DOUBLE[])) AS vn
           |  FROM embeddings),
           |c0 AS MATERIALIZED (
           |  SELECT vec_id AS kc, emb AS c,
           |         sqrt(list_sum(list_transform(range(1, ${SqDim + 1}),
           |           j -> emb[j] * emb[j]))) AS cnorm
           |  FROM e WHERE vec_id < 8),
           |${step(1, "c0")},
           |${step(2, "c1")},
           |a3 AS MATERIALIZED (
           |  SELECT e.vec_id,
           |         max((CAST(FLOOR(list_sum(list_transform(range(1, ${SqDim + 1}),
           |                j -> e.emb[j] * c.c[j])) / (e.vn * c.cnorm)
           |                * 1000000 + 0.5) AS BIGINT)
           |              + 1000000) * 8 + (7 - c.kc)) AS pk
           |  FROM e, c2 c GROUP BY 1),
           |f AS (SELECT 7 - (pk % 8) AS cluster, (pk // 8) - 1000000 AS g
           |      FROM a3)
           |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
           |       FLOOR(CAST(sum(g) AS DOUBLE) / count(*) + 0.5) / 1000000
           |         AS mean_sim,
           |       CAST(min(g) AS DOUBLE) / 1000000 AS min_sim,
           |       CAST(max(g) AS DOUBLE) / 1000000 AS max_sim
           |FROM f GROUP BY cluster""".stripMargin
      }),

    // ---- v29: cluster-balanced sampling (diversity flattening) ---------
    // The SemDeDup/DataComp-style diversity step AFTER clustering: keep
    // an equal quota from every embedding cluster so head topics stop
    // dominating the training mix (the cluster-level complement of
    // p03's per-source budgets). Assignment is v15's packed-long argmax
    // against the 8 broadcast seed centroids (map-side combinable,
    // integer-exact cross-engine); the within-cluster keep order is the
    // house md5(vec_id) shuffle key, ranked by the p18/p20 SPLIT form —
    // (cluster, md5-prefix bucket) local row_number + broadcast bucket
    // offsets — so no cluster funnels through one task (a plain
    // 8-partition window is the textbook skew bug at 100 TB). The quota
    // is all-integer: keep ⌈n/4⌉ vectors total, ⌈that/8⌉ per cluster —
    // the global count rides in as a broadcast 1-row aggregate. Plan:
    // ONE vec_id-keyed argmax exchange, materialized once
    // (localCheckpoint — three downstream consumers would otherwise
    // re-run the assignment pass each), then one (cluster,
    // bucket)-keyed rank exchange; everything else broadcast.
    ("v29_balanced_sample",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val seeds = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("seed_id"), col("embedding").as("semb"))
        val gInt = floor(cosine(col("embedding"), col("semb")) * 1000000 + 0.5)
          .cast("long")
        val packed = (gInt + 1000000L) * 8L + (lit(7L) - col("seed_id"))
        // localCheckpoint: the argmax aggregate feeds THREE consumers
        // (bucket offsets, the global count, the rank pass) and Spark
        // re-plans shared subtrees per consumer — without the cut the
        // corpus-scale assignment pass runs 3× (caught by ExplainAudit:
        // 5 scans / 12 exchanges; 1 assignment pass after).
        val assigned = e.filter(col("vec_id") >= 8)
          .crossJoin(broadcast(seeds))
          .select(col("vec_id"), packed.as("pk"))
          .groupBy(col("vec_id")).agg(max(col("pk")).as("pk"))
          .select(col("vec_id"), (lit(7L) - col("pk") % 8).as("cluster"),
            md5(col("vec_id").cast("string")).as("h"))
          .localCheckpoint()
        val tot = assigned.agg(count(lit(1)).as("n_total"))
        Pipeline.splitRank(assigned, Seq("cluster"), "vec_id")
          .crossJoin(broadcast(tot))
          .select(col("vec_id"), col("cluster"), col("rk"),
            (col("rk") < expr("((n_total + 3) div 4 + 7) div 8")).as("kept"))
      },
      Some("""WITH seeds AS (
                SELECT vec_id AS seed_id, embedding::DOUBLE[] AS semb
                FROM embeddings WHERE vec_id < 8),
              sims AS (
                SELECT v.vec_id,
                       (CAST(FLOOR(list_cosine_similarity(v.embedding::DOUBLE[],
                                                          s.semb) * 1000000 + 0.5)
                             AS BIGINT) + 1000000) * 8 + (7 - s.seed_id) AS pk
                FROM embeddings v CROSS JOIN seeds s
                WHERE v.vec_id >= 8),
              best AS (
                SELECT vec_id, 7 - (max(pk) % 8) AS cluster FROM sims GROUP BY 1),
              r AS (
                SELECT vec_id, cluster,
                       CAST(row_number() OVER (
                         PARTITION BY cluster
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                         AS BIGINT) AS rk,
                       CAST(count(*) OVER () AS BIGINT) AS n_total
                FROM best)
              SELECT vec_id, cluster, rk,
                     rk < ((n_total + 3) // 4 + 7) // 8 AS kept
              FROM r""")),

    // ---- v30: Matryoshka truncation recall curve ------------------------
    // The MRL question (Kusupati et al. 2022): how much retrieval
    // quality survives truncating embeddings to their prefix dims?
    // Production systems store 64-d vectors but search the first 8/16/32
    // dims for the cheap first pass — this curve is the dial that
    // decides the cut. For each d ∈ {8,16,32,64}: exact top-10 by
    // cosine over the FIRST d dims (renormalized by construction —
    // cosine of the slices) vs the full-dim top-10 truth; recall@10 per
    // d, with d=64 pinning the 1.0 endpoint. Same eval-harness cost
    // class as v19/v21: exactly 4 TakeOrdered corpus passes (map-side
    // partial top-k, 10 rows each, materialized once), truth read off
    // the materialized union's own 64-branch — no 5th pass, no join;
    // nothing corpus-sized shuffles at any scale. Ranking compares the
    // bit-identical cosine kernel both engines compute (v01-proven; a
    // slice is the same kernel on a shorter array), ties broken by
    // vec_id — integer hits, no float aggregation.
    ("v30_mrl_recall",
      (s, d) => {
        val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        val q = queryVec(s, d)
        def top10(dim: Int): DataFrame = e.crossJoin(broadcast(q))
          .select(col("vec_id"),
            cosine(slice(col("embedding"), 1, dim), slice(col("qv"), 1, dim))
              .as("cs"))
          .orderBy(col("cs").desc, col("vec_id").asc).limit(10)
          .select(lit(dim.toLong).as("dim"), col("vec_id"))
        // The dim=64 branch IS the truth: the 40-row union materializes
        // ONCE (localCheckpoint — the v21 eval-harness pattern), its 64
        // rows collect as the truth ids (bounded like p19's LUT), and
        // hit-marking is a literal isin over the checkpointed rows — so
        // the corpus is scanned exactly 4 times total, with no 5th
        // truth pass and no join.
        val tops = Seq(8, 16, 32, 64).map(top10).reduce(_ unionAll _)
          .localCheckpoint()
        val truthIds = tops.filter(col("dim") === 64)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
        tops.groupBy(col("dim"))
          .agg(count(when(col("vec_id").isInCollection(truthIds), 1)).as("hits"))
          .select(col("dim"), col("hits"),
            (col("hits").cast("double") / 10).as("recall"))
      },
      Some("""WITH base AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
              q AS MATERIALIZED (SELECT emb AS qv FROM base WHERE vec_id = 0),
              tops AS MATERIALIZED (
                SELECT d.dim, t.vec_id
                FROM (SELECT unnest([8, 16, 32, 64]) AS dim) d,
                     LATERAL (
                       SELECT b.vec_id FROM base b, q
                       WHERE b.vec_id <> 0
                       ORDER BY list_cosine_similarity(
                                  list_slice(b.emb, 1, d.dim),
                                  list_slice(q.qv, 1, d.dim)) DESC,
                                b.vec_id ASC
                       LIMIT 10) t),
              truth AS MATERIALIZED (SELECT vec_id FROM tops WHERE dim = 64)
              SELECT CAST(t.dim AS BIGINT) AS dim,
                     CAST(count(tr.vec_id) AS BIGINT) AS hits,
                     CAST(count(tr.vec_id) AS DOUBLE) / 10 AS recall
              FROM tops t LEFT JOIN truth tr ON t.vec_id = tr.vec_id
              GROUP BY t.dim"""))
  )

  /** v28's Lloyd loop with a parameterized update count (`iters`
    * updates, then one final assignment + per-cluster rollup) — the
    * NewOpsSpec monotonicity check runs it at 0 and 2 updates and compares
    * the weighted objective. See the v28 defs entry for the contract. */
  private[graft] def kmeansIters(s: SparkSession, d: String, iters: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        l2norm(col("embedding")).as("vn"))
    val seed = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("kc"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c"))
    // all centroids in ONE row → assignment is a pure map pass
    def packCents(cent: DataFrame): DataFrame = cent
      .withColumn("cnorm", expr(
        """sqrt(aggregate(transform(sequence(1, size(c)),
          |  i -> element_at(c, i) * element_at(c, i)), 0D, (a, v) -> a + v))""".stripMargin))
      .agg(sort_array(collect_list(struct(col("kc"), col("c"), col("cnorm"))))
        .as("cents"))
    def assigned(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(packCents(cent)))
        .withColumn("pk", expr(
          """aggregate(cents, CAST(-1 AS BIGINT), (best, s) ->
            |  greatest(best,
            |    (CAST(FLOOR(aggregate(transform(sequence(1, size(s.c)),
            |       i -> CAST(element_at(embedding, i) AS DOUBLE) * element_at(s.c, i)),
            |       0D, (a, v) -> a + v) / (vn * s.cnorm) * 1000000 + 0.5) AS BIGINT)
            |     + CAST(1000000 AS BIGINT)) * CAST(8 AS BIGINT)
            |     + (CAST(7 AS BIGINT) - s.kc)))""".stripMargin))
    def updated(asg: DataFrame): DataFrame = asg
      .select((lit(7L) - col("pk") % 8).as("kc"), posexplode(col("embedding")))
      .groupBy(col("kc"), col("pos"))
      .agg(Graph.grid9(avg(col("col"))).as("m"))
      .groupBy(col("kc"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("sm"))
      .select(col("kc"), expr("transform(sm, x -> x.m)").as("c"))
    val cFinal = (1 to iters).foldLeft(seed) { (c, _) => updated(assigned(c)) }
    assigned(cFinal)
      .select((lit(7L) - col("pk") % 8).as("cluster"),
        (expr("pk div 8") - 1000000L).as("g"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"),
        (floor(sum(col("g")).cast("double") / count(lit(1)) + 0.5) / 1000000)
          .as("mean_sim"),
        (min(col("g")).cast("double") / 1000000).as("min_sim"),
        (max(col("g")).cast("double") / 1000000).as("max_sim"))
  }

  /** The identical greedy unrolled as DuckDB CTEs (one anti-join +
    * redundancy-max + argmax per step), every CTE MATERIALIZED — each
    * sel$i is referenced by two step-(i+1) CTEs, and DuckDB's default
    * inlining would blow the plan up exponentially (the g01 lesson). */
  private def mmrOracle(k: Int): String = {
    val head =
      """WITH q AS MATERIALIZED (
        |  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |pool AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |         list_cosine_similarity(embedding::DOUBLE[], qv) AS simq
        |  FROM embeddings, q WHERE vec_id <> 0
        |  ORDER BY simq DESC, vec_id ASC LIMIT 30),
        |sel1 AS MATERIALIZED (
        |  SELECT vec_id, emb, simq, 1 AS pick,
        |         CAST(0.5 AS DOUBLE) * simq AS mmr_score
        |  FROM pool ORDER BY simq DESC, vec_id ASC LIMIT 1)""".stripMargin
    val steps = (2 to k).map { i =>
      s"""red$i AS MATERIALIZED (
         |  SELECT p.vec_id, p.emb, p.simq,
         |         max(list_cosine_similarity(p.emb, s.emb)) AS maxred
         |  FROM pool p CROSS JOIN sel${i - 1} s
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY p.vec_id, p.emb, p.simq),
         |sel$i AS MATERIALIZED (
         |  SELECT * FROM sel${i - 1}
         |  UNION ALL
         |  (SELECT vec_id, emb, simq, $i AS pick,
         |          CAST(0.5 AS DOUBLE) * simq - CAST(0.5 AS DOUBLE) * maxred AS mmr_score
         |   FROM red$i
         |   ORDER BY CAST(0.5 AS DOUBLE) * simq - CAST(0.5 AS DOUBLE) * maxred DESC,
         |            vec_id ASC LIMIT 1))""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT pick, vec_id, simq AS cos_sim, mmr_score FROM sel$k"
  }

  /** v24's recurrence as unrolled DuckDB CTEs — per iteration: gridded
    * per-row dot, gridded per-dim mean of emb·sc, gridded norm, gridded
    * normalized loadings (every grid mirrors the Spark plan exactly, so
    * six iterations can't drift). MATERIALIZED per the g01 lesson. */
  private def powerIterationOracle(iters: Int): String = {
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS emb
         |  FROM embeddings WHERE vec_id <> 0),
         |v0 AS MATERIALIZED (
         |  SELECT list_transform(range(1, ${SqDim + 1}),
         |           i -> CAST(0.125 AS DOUBLE)) AS pv)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""sc$i AS MATERIALIZED (
         |  SELECT vec_id, emb,
         |         FLOOR(list_sum(list_transform(range(1, ${SqDim + 1}),
         |           j -> emb[j] * pv[j])) * 1000000000 + 0.5) / 1000000000 AS sc
         |  FROM e, v${i - 1}),
         |dim$i AS MATERIALIZED (
         |  SELECT j,
         |         FLOOR(avg(emb[j] * sc) * 1000000000 + 0.5) / 1000000000 AS nv
         |  FROM sc$i, range(1, ${SqDim + 1}) t(j) GROUP BY j),
         |vr$i AS MATERIALIZED (
         |  SELECT list(nv ORDER BY j) AS raw FROM dim$i),
         |nr$i AS MATERIALIZED (
         |  SELECT raw,
         |         FLOOR(sqrt(list_sum(list_transform(raw, x -> x * x)))
         |           * 1000000000 + 0.5) / 1000000000 AS nrm
         |  FROM vr$i),
         |v$i AS MATERIALIZED (
         |  SELECT list_transform(raw,
         |           x -> FLOOR(x / nrm * 1000000000 + 0.5) / 1000000000) AS pv,
         |         nrm
         |  FROM nr$i)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""\nSELECT CAST(j - 1 AS INT) AS pos, pv[j] AS loading, nrm AS lambda
         |FROM v$iters, range(1, ${SqDim + 1}) t(j)""".stripMargin
  }

  /** SemDeDup keeper pass over pre-assigned (vec_id, cell, embedding)
    * rows. Keeper rule: drop a vector iff ANY smaller-id vector sits in
    * the same cell at cosine ≥ τ — greedy and deterministic (no RNG,
    * rerun-stable). NOTE this is the greedy approximation of the paper's
    * one-representative-per-clique choice, not connected components: a
    * chain a~c, b~c with a≁b keeps BOTH a and b (and drops c), where a
    * CC-min-id keeper (the d06 pattern) would keep only a. Every kept
    * vector is guaranteed to have no earlier near-duplicate; transitive
    * chains may retain more than one representative — the conservative
    * side of the trade (never drops a non-duplicate). Cross-cell
    * near-dups are out of contract (the paper accepts this recall
    * trade; d05 is the exhaustive-recall path when it matters). */
  def semDedup(cells: DataFrame, tau: Double = 0.45): DataFrame =
    cells.join(semDedupDropped(cells, tau), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))

  /** The within-cell pair join alone (the scale-critical piece): every
    * vec_id with a smaller-id near-duplicate in its cell. Exposed so the
    * layout gate can assert THIS join — not the candidate-sized anti
    * join after it — runs exchange-free over the bucketed cell table. */
  def semDedupDropped(cells: DataFrame, tau: Double): DataFrame =
    cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("a.vec_id").as("vec_id"))
}
