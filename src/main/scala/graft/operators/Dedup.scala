package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Cut, Tables}
import org.apache.spark.sql.graft.VectorExpressions.{cosine, hyperplaneSig}
import org.apache.spark.sql.graft.TextHash.{gramHashList, minHashSignature, qualityFeaturesCol, shingleHashSet, simHash64}

/** Deduplication over the `documents` table — the training-data-pipeline
  * surface the reference lacks, designed for the 100 TB regime.
  *
  * Strategy ladder (all shuffle budgets relative to corpus size n):
  *   d01 exact       — one hash-groupBy; map-side combine; O(n).
  *   d02 MinHash-LSH — the only all-pairs-free near-dup path: one
  *                     codegen'd pass computes 32 minhashes per doc, 8
  *                     bands × 4 rows hash to buckets, candidates = band-
  *                     bucket self-join, exact Jaccard verify on
  *                     candidates only. Candidate volume ~O(n·dup_rate).
  *   d03 SimHash     — 64-bit signature in one pass; hamming ≤ 3 pairs
  *                     via 4×16-bit band join (pigeonhole: ≤3 differing
  *                     bits leave ≥1 of 4 bands identical) — never O(n²).
  *   d04 exact ngram — df-capped inverted-index self-join on 8-byte gram
  *                     hashes: exact pair Jaccard without materializing
  *                     non-overlapping pairs, and without the hot-gram m²
  *                     blowup (see GramDfCap). Correctness baseline for d02.
  *   d05 embedding   — two-word hyperplane-LSH band probe + global
  *                     Hamming gate + exact-cosine verify with the
  *                     codegen'd CosineSimilarity kernel; never an
  *                     all-pairs cross join (d26 keeps recall vs the
  *                     exact truth measured on a bounded sample).
  *
  * All per-document text work (tokenize → gram → hash/signature) happens
  * in single-pass native expressions (TextHashExpressions.scala) — one
  * narrow map over the scan, no string shingles materialized, joins carry
  * 8-byte longs. The DuckDB oracles compute the same set relations from
  * string shingles; hash-vs-string equality holds modulo 2^-64 collisions.
  *
  * Reference surface being generalized: AnDB's DISTINCT / DuplicateRemoval
  * (andb/executor/operator/logical.py:298, physical/select.py:766) only
  * removes exact duplicate tuples; near-dup semantics are new capability.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  /** Document-frequency cap: grams shared by more than this many docs are
    * excluded from CANDIDATE GENERATION (never from Jaccard itself). An
    * inverted-index self-join emits df² pairs per gram, so one boilerplate
    * gram ("in the", a header) shared by 10⁶ docs would emit 10¹² pairs —
    * the classic 100 TB blowup. Capping df bounds candidates per gram at
    * τ² while exact verification on the FULL gram sets keeps scores exact;
    * the only contract change is that a pair must share ≥1 sub-hot gram to
    * be considered (pairs similar ONLY through boilerplate are template
    * dups, which d01/p01's exact pass already catches). */
  private val GramDfCap = 1000

  /** d05/d26's embedding near-dup rule. Band geometry is FIXED — 12
    * bands of 10 bits over two 63-bit hyperplane words, probe Hamming ≤ 2
    * per band, the geometry the offline ROC sweep (BASELINE.md "Round 9:
    * d05 retune — the measured geometry sweep") found Pareto at every
    * gate setting. The two knobs a user trades on are fixed at the
    * shipped values: a global 126-bit Hamming gate ≤ 50 and an
    * exact-cosine verify threshold ≥ 0.45 — candidates 4.6% of pairs,
    * recall 90.3% at sf0.1 (d26 keeps that recall standing as an
    * oracle-checked row). Query fns and oracle SQL read the same
    * constants, so they cannot diverge. */
  private val EmbGlobalGate = 50
  private val EmbMinCos = 0.45

  /** Stored-side size gate for d05's band join (r9 advice item 1): the
    * broadcast hint is right while the 12-rows/vector band table fits
    * the driver (~10⁷ vectors ≈ 1.2e8 narrow rows); past that the job
    * must DEGRADE to the shuffled (band, bv) equi-join, not fail on
    * broadcast limits. The count comes free from the memoized corpus
    * fingerprint ("<n>_<Σid>_<Σemb>") — no extra job. */
  private val EmbBroadcastMaxVecs = 10000000L

  /** Shared DuckDB CTE computing exact pairwise Jaccard via an inverted
    * shingle index (the string-shingle mirror of the Spark plan shape).
    * Mirrors the Spark kernels' two contract details: documents with fewer
    * than n words contribute their whole text as a single shingle (the
    * TextHash.gramHashes fallback), and each pair carries `has_cold` = 1
    * iff it shares at least one gram under the df cap — the candidate-
    * generation precondition d04/d06 apply (d02's LSH path does not). */
  /** The 3-word string-shingle extraction alone, ending in
    * `sh(doc_id, sg)` — ONE definition of the shingle contract
    * (including the <3-word whole-text fallback) shared by
    * [[oracleShingleJaccard]] and t33's novelty oracle, so the gram
    * rule can't drift between the dedup ladder and its audits. */
  private[operators] val oracleShingleCte: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks WHERE len(w) >= 3),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sg FROM idx
      |       UNION ALL
      |       SELECT doc_id, text AS sg FROM documents WHERE len(string_split(text, ' ')) < 3)""".stripMargin

  private val oracleShingleJaccard: String =
    s"""$oracleShingleCte,
      |hot AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) > $GramDfCap),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c,
      |                 max(CASE WHEN a.sg IN (SELECT sg FROM hot) THEN 0 ELSE 1 END) AS has_cold
      |          FROM sh a JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jacs AS (SELECT ia, ib, c * 1.0 / (sa.n + sb.n - c) AS jac, has_cold
      |         FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib)
      |""".stripMargin

  /** The d06 component labeling as DuckDB CTEs ending in
    * `comp(doc_id, keeper_id)` — ONE definition shared by d06 (the
    * groups), d09 (quality keeper), d20 (savings audit) and p16 (the
    * leakage-free split), so the near-dup component rule can't drift
    * between the operator, its audits, and the split built on it. */
  private[operators] val oracleCcComponents: String =
    s"""$oracleShingleJaccard,
       |edges AS (SELECT ia AS a, ib AS b FROM jacs WHERE jac >= 0.9 AND has_cold = 1
       |          UNION SELECT ib, ia FROM jacs WHERE jac >= 0.9 AND has_cold = 1),
       |reach(a, b) AS (SELECT a, b FROM edges
       |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS keeper_id
       |         FROM reach GROUP BY a)""".stripMargin

  /** Exact n-gram Jaccard pairs with score ≥ `jacNum/jacDen`, via a
    * df-capped inverted-index self-join on 8-byte gram hashes.
    *
    * The document-frequency cap is what makes this survive a real crawl:
    * a gram shared by m docs emits m² candidate pairs, so grams with
    * df > GramDfCap are dropped from candidate generation (their df is
    * computed in place by a count window on the join's own exchange) and
    * scores stay EXACT via an array-intersect verify on the full gram
    * sets of surviving candidates. A conservative prefilter — cold
    * overlap plus best-case hot overlap against the threshold's required
    * intersection — prunes candidates before the wide verify join, and
    * tightens with the threshold (d06's 0.9 edge set prunes far harder
    * than d04's 0.2 scoring). The threshold is carried as an INTEGER
    * rational and the prefilter compares by cross-multiplication,
    * `(c_cold + min(hot)) · (num+den) ≥ (na+nb) · num`, because the
    * floating form `(na+nb) · (t/(1+t))` rounds ABOVE the exact bound
    * for t = 0.2 (0.2/1.2 has no finite binary form) and would silently
    * drop true pairs sitting exactly on the threshold. The gram-set
    * table is cut: one kernel pass feeds candidate
    * generation, the prefilter stats, and the verify (at 100 TB this is
    * "write the shingle table once per corpus"). */
  /** Shared candidate-generation core for the exact gram-overlap family
    * (d04 Jaccard, d16 containment): per-doc gram-hash sets
    * (cut — one kernel pass feeds candidates, prefilter
    * stats, and verify), the df-capped cold-gram stream (df computed by a
    * count window on the join's own exchange), and per-doc hot-gram
    * counts for the no-false-drop prefilter. */
  private def gramIndex(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val hs = Tables.documents(s, d)
      .select(col("doc_id"), shingleHashSet(col("text")).as("hs"))
      .cut
    val ex = hs.select(col("doc_id"), size(col("hs")).as("n"), explode(col("hs")).as("h"))
    // Hot-gram exclusion rides the SAME hash-on-gram exchange the
    // self-join needs anyway: a count window over partitionBy(h) yields
    // each gram's df in place (gram sets are distinct per doc, so
    // occurrences = document frequency), and the filtered stream is
    // already partitioned for the join — no separate full-gram groupBy,
    // no broadcast anti-join pass. The stream stays unmaterialized:
    // checkpointing it measured ~1.8× WORSE on the ccLabels shape
    // (OPTIMIZATION_r14.md §7) — the barrier serializes the prefilter
    // pipeline, and the window's exchange is already reused by every
    // consumer.
    val wGram = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val cold = ex.withColumn("df", count(lit(1)).over(wGram))
      .filter(col("df") <= GramDfCap).drop("df")
    // Per-doc hot-gram counts (n - cold-gram count) for the prefilter.
    val hotCnt = hs.select(col("doc_id"), size(col("hs")).as("n"))
      .join(cold.groupBy(col("doc_id")).agg(count(lit(1)).as("n_cold")), Seq("doc_id"), "left")
      .select(col("doc_id"), (col("n") - coalesce(col("n_cold"), lit(0L))).as("n_hot"))
    (hs, cold, hotCnt)
  }

  /** d23's winnowing fingerprint selection (k=4-token grams, window
    * w=4 over the md5 gram-hash stream, keep each window's minimum) —
    * `(doc_id, fps)` with fps the per-doc DISTINCT selected set. The
    * gram array g and token array w are bound as LAMBDA variables
    * (one-element-array transform) instead of projection aliases:
    * CollapseProject substitutes an alias's defining expression into
    * every lambda-body use, re-evaluating the md5 gram pass once PER
    * WINDOW POSITION — O(m²) md5s per doc (v11's triple-eval disease;
    * measured 93.5 s vs 1.5 s at sf0.1). A lambda variable is evaluated
    * once per element = once per row, by construction. */
  private[graft] def winnowSelect(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), expr(
      """array_distinct(flatten(transform(
        |  transform(array(split(text, ' ')), w ->
        |    CASE WHEN size(w) >= 4
        |      THEN transform(sequence(1, size(w) - 3),
        |             i -> md5(concat_ws(' ', slice(w, i, 4))))
        |      ELSE array(md5(concat_ws(' ', w))) END),
        |  g -> CASE WHEN size(g) >= 4
        |    THEN transform(sequence(1, size(g) - 3),
        |           p -> array_min(slice(g, p, 4)))
        |    ELSE array(array_min(g)) END)))""".stripMargin).as("fps"))

  /** Physical-join pin for the gram-POSTINGS self-join in [[ngramPairs]]
    * and d16 (r13, closing the r10–r12 cross-SF drift adjudications):
    * the postings stream is O(corpus × grams/doc), so at 100 TB neither
    * side is broadcastable — yet at sf1.0 its compressed runtime size
    * sits exactly ON AQE's 10 MB broadcast boundary, and the executed
    * plan flipped BHJ↔SMJ between reps IN THE SAME JVM on identical
    * data (BASELINE.md "Round 13: the d04 watch row CLOSED with a
    * mechanism": BHJ/SMJ/BHJ across 3 reps — d04's r12
    * "1.43× regression" and d16's three rounds of allowlist churn were
    * this flip, not context). A shuffle join is the plan a real cluster
    * needs anyway; pinning it makes the plan deterministic at every SF.
    * The per-doc sides (hotCnt, gram arrays) stay AQE-decided: they are
    * stable at the gate SFs and flipping to SMJ as data grows is the
    * healthy stats-based behavior the drift allowlist documents.
    * Variant chosen by measurement (BASELINE.md r13): two A/B rounds of
    * standalone sf1.0 legs, shuffle_hash vs merge — d04 2.64/2.88 (shj)
    * vs 2.24/2.66 (merge), d16 2.15/2.61 vs 2.07/2.49, d06 3.49/4.02 vs
    * 3.70/3.82: statistically a tie inside the box's noise envelope, so
    * MERGE wins on scale posture (sort spills gracefully; no
    * per-partition hash-build memory bound to size) and on being
    * Spark's own preference for fact-fact joins. */
  private[operators] val PostingsJoinHint = "merge"

  private def ngramPairs(s: SparkSession, d: String, jacNum: Int, jacDen: Int): DataFrame = {
    val minJac = jacNum.toDouble / jacDen
    val (hs, cold, hotCnt) = gramIndex(s, d)
    // Rename the join key on one side: a self-join on the shared lineage
    // ambiguously resolves a("h") === b("h") (Spark warns "trivially
    // true" and falls back to positional disambiguation — correct today,
    // fragile under plan rewrites).
    val a = cold.select(col("doc_id").as("a_id"), col("n").as("na"), col("h"))
    val b = cold.select(col("doc_id").as("b_id"), col("n").as("nb"), col("h").as("hb"))
      .hint(PostingsJoinHint) // see [[PostingsJoinHint]]
    val cands = a.join(b, col("h") === col("hb") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("c_cold"), max(col("na")).as("na"), max(col("nb")).as("nb"))
    // jac ≥ n/d ⟺ |A∩B|·(n+d) ≥ (|A|+|B|)·n (integer cross-multiply —
    // exact); |A∩B| ≤ c_cold + min(hot_a, hot_b).
    val pre = cands
      .join(hotCnt.select(col("doc_id").as("a_id"), col("n_hot").as("ha")), "a_id")
      .join(hotCnt.select(col("doc_id").as("b_id"), col("n_hot").as("hb")), "b_id")
      .filter((col("c_cold") + least(col("ha"), col("hb"))) * lit(jacNum + jacDen)
        >= (col("na") + col("nb")) * lit(jacNum))
    pre
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("hsa")), "a_id")
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("hsb")), "b_id")
      .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Connected-component labels over the jac ≥ 0.9 near-dup edge set,
    * via the generic min-label-propagation loop
    * ([[Graph.minLabelPropagation]] — shared with g03's event-graph
    * communities; near-dup components are cliques/short chains, so it
    * converges in 2-3 rounds here). Edge generation runs the ngram
    * scorer AT the 0.9 threshold, so the no-false-drop prefilter prunes
    * with the 0.9 bound (required intersection ≈ 47% of |A|+|B|) rather
    * than d04's 0.2 bound. Returns (doc_id, label) for every doc with
    * at least one near-dup edge. */
  private[operators] def ccLabels(s: SparkSession, d: String): DataFrame =
    Graph.minLabelPropagation(
      ngramPairs(s, d, 9, 10).select(col("a_id"), col("b_id")))

  /** d12 core over any (doc_id, text) frame: per-doc duplicated-position
    * stats from positional 5-gram hashes. Positions collapse to
    * (doc, gram, c) FIRST — a hot boilerplate gram spreads across docs,
    * so that aggregate is skew-free — and the corpus-wide occurrence
    * count reduces map-side (one row per distinct gram per partition).
    * Dup marking is then a JOIN on the gram hash, not a count window:
    * hot grams here are the SIGNAL (d04's df-cap trick can't drop them),
    * a window would pin every occurrence of one gram in a single task
    * with no runtime remedy, while AQE splits a skewed join partition
    * automatically (gate pinned in UtilitySpec's skew spec). */
  private[graft] def spanStats(docs: DataFrame): DataFrame = {
    val g1 = docs
      .select(col("doc_id"), explode(gramHashList(col("text"), 5)).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    val dup = g1.groupBy(col("h")).agg(sum(col("c")).as("tot"))
      .filter(col("tot") >= 2).select(col("h"), lit(1L).as("isdup"))
    g1.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
           sum(when(col("isdup").isNotNull, col("c")).otherwise(lit(0L))).as("n_dup_grams"))
      .withColumn("dup_fraction",
        floor(col("n_dup_grams") * 1e6 / col("n_grams") + 0.5) / 1e6)
  }

  /** The ONE all-pairs edit-distance oracle d11 and d15 both declare:
    * the two candidate schemes (length bands / PassJoin segments) are
    * both lossless, so their verified outputs must be byte-identical to
    * each other AND to this exhaustive reconstruction. */
  // The oracle's own lossless prefilter (sf1.0-scale compare): ed ≤ 15
  // implies Σ_{c∈S} |cnt_a(c) − cnt_b(c)| ≤ 30 for ANY char subset S
  // (one edit moves the subset-L1 by ≤ 2). S = the 27 letter+space
  // counts, computed once per doc in a CTE (list_transform over the
  // alphabet), kills ~everything that is not a true near-pair before
  // DuckDB's unthresholded O(len²) levenshtein — the bare length-band
  // join times out at sf1.0 (21k short docs → ~30M band pairs). The
  // staged CTEs force the cheap filter to run first; the DP runs once
  // per survivor. Same inequality family as the operator's 28-bucket
  // histogram gate, so the oracle stays an independent re-derivation,
  // just not a quadratic one.
  private val editDistOracle: String =
    """WITH dd AS MATERIALIZED (
         SELECT doc_id, text, n_chars,
                list_transform(
                  ['a','b','c','d','e','f','g','h','i','j','k','l','m',
                   'n','o','p','q','r','s','t','u','v','w','x','y','z',' '],
                  ch -> len(text) - len(replace(text, ch, ''))) AS hist
         FROM documents WHERE n_chars <= 256),
       cand AS MATERIALIZED (
         SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.text AS ta, b.text AS tb
         FROM dd a JOIN dd b
           ON a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 15
         WHERE list_sum(list_transform(range(1, 28),
                 i -> abs(a.hist[i] - b.hist[i]))) <= 30)
       SELECT a_id, b_id, edit_dist FROM (
         SELECT a_id, b_id, levenshtein(ta, tb) AS edit_dist FROM cand) z
       WHERE edit_dist <= 15"""

  /** PassJoin (Li, Deng, Feng 2011) candidates + exact verify for edit
    * distance ≤ k — content-aware blocking for the open-web regime
    * where d11's length bands saturate.
    *
    * Lossless by the segment pigeonhole: partition the SHORTER string s
    * of a pair into k+1 even segments; ≤ k edits leave some segment
    * untouched, and for the SMALLEST untouched index i the ≥ i edits
    * consumed by earlier segments leave ≤ k−i for the tail, which bounds
    * the segment's alignment shift in r to Δ ± (k−i) (Δ = len(r) −
    * len(s); each tail edit moves the end by ≤ 1). So the probe
    * enumerates, per candidate shorter-length ls ∈ [len(r)−k, len(r)]
    * and segment index i, only the substrings of r in that window —
    * Σ_i (2(k−i)+1) = (k+1)² substrings per (r, ls), a CONSTANT per
    * probe row: candidates are linear in corpus size whatever the
    * length distribution, and content-blocking means unrelated docs
    * share no segment and generate nothing. The candidate `distinct`
    * is candidate-sized (bounded by true-pair density × window), and
    * verification joins texts back doc-keyed — segment rows never carry
    * documents. */
  private[graft] def passJoinPairs(docs0: DataFrame, k: Int): DataFrame = {
    val kp1 = k + 1
    val docs = docs0.select(col("doc_id"), col("text"),
      length(col("text")).cast("int").as("len"))
    // TINY stratum (shorter side ≤ k chars): the segment pigeonhole
    // needs k+1 NON-EMPTY segments, which a ≤k-char string cannot
    // supply — but in this stratum blocking is pointless anyway, because
    // ed(s, r) ≤ max(len) always holds: EVERY tiny×tiny pair is within
    // k by definition and tiny×longer pairs only need the length window.
    // The answer itself is ~quadratic in the stratum, so it is computed
    // directly (length-window join + DP); the stratum is bounded by the
    // ≤k-char population. The segment path below EXCLUDES tiny shorter
    // sides (la > k / ls > k), keeping the strata disjoint.
    val tiny = docs.filter(col("len") <= k)
    val tinyPairs = tiny
      .select(col("doc_id").as("a_id"), col("text").as("ta"), col("len").as("la"))
      .join(docs.filter(col("len") <= 2 * k)
          .select(col("doc_id").as("b_id"), col("text").as("tb"), col("len").as("lb")),
        col("a_id") =!= col("b_id") && (col("lb") - col("la")) <= k)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    // Index side: each doc as the SHORTER string emits its k+1 even
    // segments (i, start p, width w): seg i spans [⌊iL/(k+1)⌋, ⌊(i+1)L/(k+1)⌋).
    val idx = docs.filter(col("len") > k)
      .select(col("doc_id").as("a_id"), col("text").as("ta"), col("len").as("la"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("p", floor(col("i") * col("la") / kp1).cast("int"))
      .withColumn("w", (floor((col("i") + 1) * col("la") / kp1) - col("p")).cast("int"))
      .filter(col("w") > 0)
      .select(col("a_id"), col("la"), col("i"),
        expr("substring(ta, p + 1, w)").as("seg"))
    // Probe side: each doc as the LONGER string enumerates candidate
    // shorter lengths and, per segment index, the window's substrings.
    val prb = docs.filter(col("len") > k)
      .select(col("doc_id").as("b_id"), col("text").as("tb"), col("len").as("lb"),
        explode(sequence(greatest(col("len") - k, lit(k + 1)), col("len"))).as("ls"))
      .select(col("b_id"), col("tb"), col("lb"), col("ls"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("p", floor(col("i") * col("ls") / kp1).cast("int"))
      .withColumn("w", (floor((col("i") + 1) * col("ls") / kp1) - col("p")).cast("int"))
      .filter(col("w") > 0)
      .withColumn("delta", col("lb") - col("ls"))
      // Multi-match-aware window (PassJoin §4.2): a true match is found
      // via its FIRST untouched segment, which has ≤ i edits before it
      // (each earlier segment absorbs ≥ 1) and ≤ k−i after — so the
      // start shift is bounded BOTH by ±i and by Δ ± (k−i). The [p−i,
      // p+i] intersection halves the summed window width (Σ 2min(i,k−i)
      // vs Σ 2(k−i)) at zero recall cost; losslessness stays
      // machine-checked (DedupSpec: equality with d11's independent
      // length-band scheme on real data AND with brute force on planted
      // boundary edit bursts; the all-pairs DP oracle gates every row).
      .withColumn("lo", greatest(col("p") - col("i"),
        col("p") + col("delta") - (lit(k) - col("i")), lit(0)))
      .withColumn("hi", least(col("p") + col("i"),
        col("p") + col("delta") + (lit(k) - col("i")),
        col("lb") - col("w")))
      .filter(col("lo") <= col("hi"))
      .select(col("b_id"), col("lb"), col("ls"), col("i"), col("tb"), col("w"),
        explode(sequence(col("lo"), col("hi"))).as("st"))
      .select(col("b_id"), col("lb"), col("ls"), col("i"),
        expr("substring(tb, st + 1, w)").as("sub"))
    val cands = idx.join(prb,
        idx("la") === prb("ls") && idx("i") === prb("i") && idx("seg") === prb("sub"))
      .filter(col("la") < col("lb") ||
        (col("la") === col("lb") && col("a_id") =!= col("b_id")))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
      .union(tinyPairs)
    cands
      .join(docs.select(col("doc_id").as("a_id"), col("text").as("ta")), "a_id")
      .join(docs.select(col("doc_id").as("b_id"), col("text").as("tb")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("ta"), col("tb"), k).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** d14 core: the cleaned corpus after excising every ≥5-word span that
    * occurs ≥2 times corpus-wide. Positions of duplicated grams come
    * from the same positional-gram/skew-free-aggregate shape as
    * [[spanStats]]; a doc's duplicated positions then collapse to ONE
    * bounded array (≤ doc length ints) and the word-level excision is a
    * map-side higher-order filter. Positions shuffle only as narrow
    * integer triples; strings only on the single doc-keyed
    * reconstruction join (typed plan gate in PlanShapeSpec). */
  private[graft] def exciseSpans(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"), posexplode(gramHashList(col("text"), 5)))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "h"))
    // Corpus-duplicated gram set, (doc, gram) pre-aggregate first so a
    // hot boilerplate gram never skews the count (the spanStats shape).
    val dup = pos.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("h")).agg(sum(col("c")).as("tot"))
      .filter(col("tot") >= 2).select(col("h"))
    // Positions whose gram is duplicated, collapsed per doc. The h-join
    // is deliberately a join (AQE-splittable), not a count window — the
    // d12 argument: hot grams are the signal and can't be capped.
    val dps = pos.join(dup, Seq("h"))
      .groupBy(col("doc_id")).agg(collect_list(col("p")).as("dps"))
    docs.join(dps, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        coalesce(col("dps"), array().cast("array<int>")).as("dps"))
      .select(col("doc_id"),
        filter(col("w"), (x, j) =>
          !exists(col("dps"), p => p <= j && j <= p + 4)).as("kw"),
        size(col("w")).as("nw"))
      .select(col("doc_id"),
        array_join(col("kw"), " ").as("clean_text"),
        size(col("kw")).cast("long").as("n_kept"),
        (col("nw") - size(col("kw"))).cast("long").as("n_dropped"))
  }

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ---- d01: exact dedup by content hash -----------------------------
    // The corpus has no byte-identical texts, so the operator is shown on
    // a re-crawl-style input: base ∪ every 10th doc re-ingested under a
    // new id. One hash-groupBy, map-side combinable, O(n) at any scale.
    ("d01_dedup_exact",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val recrawl = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
        base.union(recrawl)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
          .filter(col("n_copies") > 1)
      },
      Some("""WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
              SELECT md5(text) AS content_hash, count(*) AS n_copies,
                     min(doc_id) AS keeper_id
              FROM corpus GROUP BY md5(text) HAVING count(*) > 1""")),

    // ---- d02: MinHash-LSH candidates + exact verify -------------------
    ("d02_dedup_minhash",
      (s, d) => {
        val bands = 8; val rows = 4
        val docsT = Tables.documents(s, d)
        // Band table stays NARROW — (doc_id, bsig[8], band, sig) — so the
        // band-bucket shuffle never carries the gram-set arrays (which
        // would ride the exchange ×bands times). Each row does carry the
        // full 8-long band-sig array (+64 B): that buys the
        // first-matching-band filter below, which de-duplicates
        // multi-band collisions map-side and deletes what used to be a
        // candidate-sized `distinct()` exchange — the trade that wins at
        // 100 TB, where hot buckets make the candidate stream spiky and a
        // second full shuffle of it is the bottleneck. Builder + verify
        // are shared with d13 (Lsh.minhashBandTable/jaccardVerifiedPairs).
        // Materialize the band table ONCE before the self-join (the
        // d04 gramIndex pattern): without it each side of the join
        // recomputes the whole shingling + 32-minhash kernel — r14
        // stage attribution measured cands ≈ 2× bandTable with verify
        // nearly free, i.e. the kernel dominated d02's wall twice over.
        // The checkpointed table is the NARROW (doc_id, bsig, band,
        // sig) stream — ~0.1% of corpus bytes, MEMORY_AND_DISK — the
        // same narrow-materialization trade d13's standing layout makes
        // durably, applied in-query.
        val buckets = Lsh.minhashBandTable(docsT, 3, bands, rows).cut
        val cands = buckets.as("a").join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
              && col("a.doc_id") < col("b.doc_id"))
          // Keep each colliding pair exactly once: only the row whose band
          // is the FIRST band where the two band-sig arrays agree survives
          // (Lsh.firstMatchingBandArrays — the hashed-band twin of the
          // XOR trick d03/d05 use). Map-side; no distinct, no exchange.
          .filter(col("a.band") === Lsh.firstMatchingBandArrays(col("a.bsig"), col("b.bsig")))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        // Exact Jaccard verify on candidates only.
        Lsh.jaccardVerifiedPairs(cands, docsT, 0.9)
      },
      // Oracle = exact all-pairs Jaccard ≥ 0.9 (LSH banding at 8×4 has
      // miss probability < 1e-8 per true pair at jac ≥ 0.95; the corpus'
      // planted dups sit at ≈ 0.98 with nothing between 0.2 and 0.9).
      Some(s"""WITH $oracleShingleJaccard
               SELECT ia AS a_id, ib AS b_id, jac FROM jacs WHERE jac >= 0.9""")),

    // ---- d03: SimHash hamming-≤k pairs ---------------------------------
    // Oracle-checked from the exported signature table (the t17
    // model-export pattern): the pigeonhole band join is LOSSLESS for
    // maxHamming < nBands (≤3 differing bits can ruin at most 3 of the
    // 4 bands), so the operator's result is exactly "all pairs at
    // Hamming ≤ 3" — which DuckDB re-derives from the exported sigs
    // with an all-pairs popcount (fine at oracle scale; the band join
    // exists precisely so the ENGINE never pays that quadratic). The
    // SimHash kernel itself stays spec-pinned (TextHashPropertySpec,
    // and the d04-agreement gate in DedupSpec).
    ("d03_dedup_simhash",
      (s, d) => {
        // Hamming ≤ 3 via Lsh.hammingPairs' 4×16-bit pigeonhole band
        // join (first-matching-band dedup, exact popcount filter) —
        // shared verbatim with m03's image dHash.
        val sig = Tables.documents(s, d)
          .select(col("doc_id"), simHash64(col("text")).as("sig"))
        OracleExport.writeOnce(sig,
          OracleExport.SimHashPath, OracleExport.docKeyFor(Tables.documents(s, d), d))
        Lsh.hammingPairs(sig, bandBits = 16, nBands = 4, maxHamming = 3)
      },
      Some(s"""WITH sigs AS MATERIALIZED (
                 SELECT doc_id, sig
                 FROM ${OracleExport.readSql(OracleExport.SimHashPath)}
                 WHERE corpus_key = ${OracleExport.docKeySql})
               SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                      CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
               FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.sig, b.sig)) <= 3""")),

    // ---- d04: exact n-gram Jaccard scores (df-capped inverted index) --
    // See [[ngramPairs]] for the full plan shape.
    ("d04_dedup_ngram",
      (s, d) => ngramPairs(s, d, 1, 5),
      Some(s"""WITH $oracleShingleJaccard
               SELECT ia AS a_id, ib AS b_id, jac FROM jacs
               WHERE jac >= 0.2 AND has_cold = 1""")),

    // ---- d06: duplicate-group resolution (keeper selection) -----------
    // Pairs are only half the dedup story: the pipeline needs GROUPS and
    // one keeper per group. Connected components over the jac ≥ 0.9 edge
    // set via min-label propagation: each iteration is one join + one
    // aggregate, converging in O(component diameter) rounds — near-dup
    // components are cliques/short chains, so 2-3 rounds in practice;
    // the loop exits on a fixpoint (scalar count check only, never data,
    // on the driver). Oracle: DuckDB recursive-CTE transitive closure.
    ("d06_dedup_groups",
      (s, d) => ccLabels(s, d)
        .groupBy(col("label").as("keeper_id"))
        .agg((count(lit(1))).as("group_size"),
             array_join(array_sort(collect_list(col("doc_id"))), ",").as("members")),
      Some(s"""WITH RECURSIVE $oracleCcComponents
               SELECT keeper_id, count(*) AS group_size,
                      array_to_string(list_sort(list(doc_id)), ',') AS members
               FROM comp GROUP BY keeper_id""")),

    // ---- d09: quality-aware keeper selection ---------------------------
    // What production pipelines actually keep from a near-dup group: the
    // HIGHEST-QUALITY member, not the lowest id. Composes the d06
    // component labels with the p01 quality score (single-pass kernel);
    // the per-group argmax is one max_by with a struct tiebreak (higher
    // quality, then lower doc_id) — no per-group sort.
    ("d09_dedup_best_keeper",
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "is")
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), qualityFeaturesCol(col("text"), stop).as("f"))
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("f.n_words"), col("f.n_distinct"), col("f.n_stop"))
              .as("quality"))
        ccLabels(s, d).join(scored, "doc_id")
          .groupBy(col("label"))
          .agg(
            max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("keeper_id"),
            count(lit(1)).as("group_size"),
            (floor(max(col("quality")) * 1000000 + 0.5) / 1000000).as("best_quality"))
          .select(col("keeper_id"), col("group_size"), col("best_quality"))
      },
      Some(s"""WITH RECURSIVE $oracleCcComponents,
               nrm AS (SELECT doc_id,
                         trim(regexp_replace(
                           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')) AS norm_text
                       FROM documents),
               scored AS (
                 SELECT doc_id,
                        least(1.0, len(string_split(norm_text, ' ')) * 1.0 / 100.0) * 0.5
                          + (len(list_distinct(string_split(norm_text, ' '))) * 1.0
                             / len(string_split(norm_text, ' '))) * 0.3
                          + (1.0 - len(list_filter(string_split(norm_text, ' '),
                               x -> x IN ('the','a','of','and','is'))) * 1.0
                             / len(string_split(norm_text, ' '))) * 0.2 AS quality
                 FROM nrm),
               ranked AS (
                 SELECT c.keeper_id AS label, c.doc_id, s.quality,
                        row_number() OVER (PARTITION BY c.keeper_id
                          ORDER BY s.quality DESC, c.doc_id ASC) AS rn,
                        count(*) OVER (PARTITION BY c.keeper_id) AS group_size,
                        max(s.quality) OVER (PARTITION BY c.keeper_id) AS bq
                 FROM comp c JOIN scored s ON s.doc_id = c.doc_id)
               SELECT doc_id AS keeper_id, group_size,
                      FLOOR(bq * 1000000 + 0.5) / 1000000 AS best_quality
               FROM ranked WHERE rn = 1""")),

    // ---- d07: stratified sampling (per-language quotas) ----------------
    // The curation primitive between dedup and training: per-stratum
    // Bernoulli sampling is one map-side pass (no shuffle; the groupBy
    // here only summarizes the result). Sampling RNG is engine-specific
    // ⇒ rows-only; proportions are asserted in DedupSpec.
    // Deterministic HASH-based stratified sampling (upgraded from
    // `stat.sampleBy` in round 6): keep a doc iff
    // xxhash64(doc_id, salt) mod 1e6 < frac·1e6 for its stratum. Same
    // statistical contract as Bernoulli sampling, but REPRODUCIBLE BY
    // CONSTRUCTION — sampleBy's per-partition RNG changes the sample
    // whenever partitioning changes, which at 100 TB means every AQE
    // re-plan or file-split change silently reshuffles "the" sample;
    // the hash rule gives the same sample on any cluster, any layout,
    // forever (the p04/p05 md5-split discipline applied to sampling).
    // Map-side only, zero extra exchanges. Oracle-checked via the
    // bucket export: DuckDB re-applies the threshold rule per stratum
    // and re-counts (the xxhash64 kernel itself is engine-pinned, same
    // as every export-pattern kernel; fraction conformance is
    // additionally asserted in DedupSpec).
    ("d07_sample_stratified",
      (s, d) => {
        val fractions = Map("en" -> 0.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 0.25)
        val thr = map(fractions.toSeq.flatMap { case (l, f) =>
          Seq(lit(l), lit((f * 1000000L).toLong)) }: _*)
        val docs = Tables.documents(s, d)
          .withColumn("bucket", pmod(xxhash64(col("doc_id"), lit(7L)), lit(1000000L)))
        OracleExport.writeOnce(docs.select(col("doc_id"), col("bucket")),
          OracleExport.SampleBucketPath, OracleExport.docKeyFor(Tables.documents(s, d), d))
        docs
          .filter(col("bucket") < element_at(thr, col("lang")))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      },
      Some(s"""WITH hx AS MATERIALIZED (
                 SELECT doc_id, bucket
                 FROM ${OracleExport.readSql(OracleExport.SampleBucketPath)}
                 WHERE corpus_key = ${OracleExport.docKeySql}),
               thr AS (SELECT * FROM (VALUES ('en', 500000), ('de', 1000000),
                       ('es', 1000000), ('fr', 1000000), ('zh', 250000)) t(lang, thr))
               SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled
               FROM documents d
               JOIN hx ON hx.doc_id = d.doc_id
               JOIN thr t ON t.lang = d.lang
               WHERE hx.bucket < t.thr
               GROUP BY 1""")),

    // ---- d08: benchmark contamination check ----------------------------
    // The decontamination op every LLM data pipeline runs: flag corpus
    // docs sharing any 5-gram with a benchmark set (stand-in: doc_id<5).
    // Benchmark gram set is small ⇒ broadcast hash join on 8-byte gram
    // hashes, map-side; at 100 TB this runs at scan speed with zero
    // shuffle of the corpus. Boilerplate guard: bench grams whose CORPUS
    // df exceeds GramDfCap are dropped — a gram every page shares is no
    // contamination signal, and its match rows would dominate the output.
    // The df pass counts ONLY bench grams (map-side broadcast semi-join →
    // tiny aggregate), never a full corpus gram groupBy.
    ("d08_contamination",
      (s, d) => {
        val g = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingleHashSet(col("text"), 5)).as("h"))
        val bench0 = g.filter(col("doc_id") < 5)
          .select(col("h")).distinct()
        val bench = g.join(broadcast(bench0), "h")
          .groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= GramDfCap).select(col("h"))
        g.filter(col("doc_id") >= 5)
          .join(broadcast(bench), "h")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("n_shared_grams"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks WHERE len(w) >= 5),
              sh5 AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sg
                      FROM idx
                      UNION ALL
                      SELECT doc_id, text AS sg FROM documents WHERE len(string_split(text, ' ')) < 5),
              bench0 AS (SELECT DISTINCT sg FROM sh5 WHERE doc_id < 5),
              bench AS (SELECT b.sg FROM sh5 s JOIN bench0 b ON s.sg = b.sg
                        GROUP BY b.sg HAVING count(*) <= $GramDfCap)
              SELECT s.doc_id, count(DISTINCT s.sg) AS n_shared_grams
              FROM sh5 s JOIN bench b ON s.sg = b.sg
              WHERE s.doc_id >= 5 GROUP BY s.doc_id""")),

    // ---- d10: decontamination with a Bloom prefilter ------------------
    // d08's exact form broadcasts the distinct bench-gram set — right
    // until the bench set itself is huge (every eval suite × every
    // n-gram = billions of keys), where an exact set broadcast is
    // ~30+ bytes/key and dies. The scale path: a Bloom filter over the
    // bench grams (~1.2 bytes/key at 1% fpp — built distributed via
    // stat.bloomFilter, probed map-side inside codegen by the native
    // BloomMightContainLong expression), with the EXACT joins kept
    // behind it so the output is bit-identical to d08: Bloom filters
    // have no false negatives, and false positives die in the exact
    // join. The joins carry no broadcast hint — after the prefilter the
    // corpus side is matches + fpp·corpus rows, so the shuffle join
    // that replaces the impossible broadcast moves survivor-sized data
    // (AQE still broadcasts at small SF). Same oracle as d08; equality
    // also asserted in DedupSpec, prefilter selectivity gated there.
    ("d10_contamination_bloom",
      (s, d) => {
        import org.apache.spark.sql.graft.BloomExpressions
        val g = Tables.documents(s, d)
          .select(col("doc_id"), explode(shingleHashSet(col("text"), 5)).as("h"))
        val bench0 = g.filter(col("doc_id") < 5).select(col("h")).distinct()
        // Distributed build; only the sketch (and a scalar count for
        // sizing) reaches the driver.
        val bloom = bench0.stat.bloomFilter("h", math.max(bench0.count(), 1L), 0.01)
        val gPre = g.filter(BloomExpressions.mightContainLong(col("h"), bloom))
        val bench = gPre.join(bench0, "h")
          .groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= GramDfCap).select(col("h"))
        gPre.filter(col("doc_id") >= 5)
          .join(bench, "h")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("h")).as("n_shared_grams"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks WHERE len(w) >= 5),
              sh5 AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sg
                      FROM idx
                      UNION ALL
                      SELECT doc_id, text AS sg FROM documents WHERE len(string_split(text, ' ')) < 5),
              bench0 AS (SELECT DISTINCT sg FROM sh5 WHERE doc_id < 5),
              bench AS (SELECT b.sg FROM sh5 s JOIN bench0 b ON s.sg = b.sg
                        GROUP BY b.sg HAVING count(*) <= $GramDfCap)
              SELECT s.doc_id, count(DISTINCT s.sg) AS n_shared_grams
              FROM sh5 s JOIN bench b ON s.sg = b.sg
              WHERE s.doc_id >= 5 GROUP BY s.doc_id""")),

    // ---- d05: embedding-cosine near-dup pairs -------------------------
    // Banded hyperplane-LSH candidates + a map-side GLOBAL
    // Hamming gate + exact-cosine verify ([[EmbGlobalGate]],
    // [[EmbMinCos]]). Round-9 retune (the round-8 verdict's weak
    // flag): the old 3-bit×21 geometry collided ~94% of RANDOM pairs —
    // a recall device, not a pruner — making the candidate stream Θ(n²)
    // (measured 144 s at sf1.0, 131× for 10× data). The retuned plan
    // (geometry swept offline over the all-pairs (xor, cos) export —
    // full ROC table in BASELINE.md "Round 9: d05 retune"):
    //
    //   1. TWO independent 63-bit hyperplane words per vector (seed
    //      offsets 0 / 63) — 126 bits total.
    //   2. Candidates: (band, bv) equi-join over 12 bands of 10 bits
    //      (6 per word), probe side expanded by the 56 Hamming-≤2 XOR
    //      masks, so a pair collides iff some band group differs in ≤2
    //      bits. Multiplicity-free by construction (one mask per
    //      (pair, band)); cross-band dedup via firstBandWithinH — all
    //      map-side, no candidate distinct.
    //   3. GLOBAL gate, the detector that actually separates signal
    //      from background here: popcount(xor₁)+popcount(xor₂) ≤ 50
    //      over all 126 bits. Runs inside the same codegen stage as the
    //      join output — no embedding bytes move until it passes.
    //   4. Exact-cosine verify (join back by id) ≥ 0.45.
    //
    // Measured at sf0.1 (vs all-pairs truth): candidates 4.64% of pairs
    // (20× fewer than the old geometry), recall 130/144 = 90.3% (sf0.01:
    // 12/14). The 0.45 threshold sits barely above the random-background
    // cosine tail of this corpus (σ≈0.125 in 64-d), where EVERY sublinear
    // candidate rule trades recall — the banded-∧-global rule is the
    // measured Pareto point, and d26 keeps the recall number standing as
    // an oracle-checked row. At a production near-dup threshold (cos ≥
    // 0.9) the same plan prunes essentially everything; the sweep is the
    // calibration tool, per corpus.
    ("d05_dedup_embedding",
      (s, d) => {
        val bandBits = 10; val bpw = 6; val probeH = 2
        val e = Tables.embeddings(s, d)
        val sigs = e.select(col("vec_id"),
          hyperplaneSig(col("embedding"), 63).as("s1"),
          hyperplaneSig(col("embedding"), 63, 63).as("s2"))
        // Contract: (∃ band within Hamming ≤2) ∧ (global Hamming ≤
        // EmbGlobalGate) ∧ (cos ≥ EmbMinCos). The oracle re-derives the
        // SAME rule from the exported signature words (the d03
        // pattern); recall < 1 BY DESIGN and is measured,
        // oracle-checked, in d26 under the same rule.
        val corpusKey = OracleExport.embKeyFor(e, d)
        OracleExport.writeOnce(sigs, OracleExport.EmbLshSigsPath, corpusKey)
        val banded = sigs.select(col("vec_id"), col("s1"), col("s2"),
            explode(concat(
              Lsh.bandStructs(col("s1"), bandBits, bpw),
              Lsh.bandStructs(col("s2"), bandBits, bpw, bpw))).as("bs"))
          .select(col("vec_id"), col("s1"), col("s2"),
            col("bs.band").as("band"), col("bs.bv").as("bv"))
        // Probe side: 56 Hamming-≤2 masks per band row. The STORED side
        // stays 12 narrow rows/vector (broadcastable until ~10⁷ vectors;
        // beyond that the join shuffles on (band, bv) and the asymmetric
        // H1×H1 split halves the probe fan — documented, not needed at
        // this corpus's scale).
        // The probe branch repartitions BEFORE its two explodes: the
        // embeddings scan is a handful of row-groups, and without the
        // exchange the entire ~n²·4.6% join fan below is computed by
        // those few tasks (measured: ONE task owning a 1.45e8-row fan =
        // 32 s of the 40 s wall at sf1.0). The exchange moves only n·12
        // narrow rows — noise next to the fan it parallelizes.
        val probe = banded
          .repartition(col("vec_id"), col("band"))
          .select(col("vec_id"), col("s1"), col("s2"), col("band"), col("bv"),
            explode(typedLit(Lsh.hammingMasks(bandBits, probeH))).as("m"))
          .select(col("vec_id"), col("s1"), col("s2"), col("band"),
            col("bv").bitwiseXOR(col("m")).as("bv"))
        // Broadcast the STORED side (12 narrow rows/vector — ~10 MB at
        // sf1.0): without the hint Spark picks the 56×-bigger PROBE side
        // as the build (both sides sit behind Generates, so stats are
        // blind), paying a single-threaded multi-million-row hash build.
        // The probe side then streams map-side — its 672 rows/vector
        // never shuffle and never leave their input partition. GATED on
        // vector count (r10): past [[EmbBroadcastMaxVecs]] the hint
        // would FAIL on broadcast/driver limits instead of degrading, so
        // the stored side falls back to the shuffled (band, bv)
        // equi-join — slower, never fatal. n parses off the memoized
        // corpus fingerprint, so the gate costs no extra job.
        val nVecs = corpusKey.takeWhile(_ != '_').toLong
        val stored = if (nVecs <= EmbBroadcastMaxVecs) broadcast(banded.as("y"))
                     else banded.as("y")
        val candsRaw = probe.as("x").join(stored,
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv")
              && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            col("x.band").as("band"),
            col("x.s1").bitwiseXOR(col("y.s1")).as("x1"),
            col("x.s2").bitwiseXOR(col("y.s2")).as("x2"))
        // Global gate FIRST: two popcounts kill ~93% of the fan before
        // the 12-branch first-band dedup chain runs (predicate order
        // inside the conjunction is evaluation order).
        val cands = candsRaw
          .filter(bit_count(col("x1")) + bit_count(col("x2")) <= EmbGlobalGate)
          .filter(col("band") ===
            Lsh.firstBandWithinH(col("x1"), col("x2"), bandBits, bpw, probeH))
          .select(col("a_id"), col("b_id"))
        val emb = e.select(col("vec_id"), col("embedding"))
        cands
          .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
          .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
          .select(col("a_id"), col("b_id"), cosine(col("ea"), col("eb")).as("cos_sim"))
          .filter(col("cos_sim") >= EmbMinCos)
      },
      // Oracle evaluation ORDER is inverted relative to the engine
      // (cosine first, signature rule second) because that is the order
      // DuckDB can afford: re-deriving candidates via the probe join
      // would materialize ~650× more rows than the exact-cosine set.
      // Same result set either way: rule ∩ (cos ≥ EmbMinCos) —
      // membership checked per qualifying pair from the exported
      // signature words.
      Some(s"""WITH sigs AS MATERIALIZED (
                 SELECT vec_id, s1, s2
                 FROM ${OracleExport.readSql(OracleExport.EmbLshSigsPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               hp AS MATERIALIZED (
                 SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                        list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos_sim
                 FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                 WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $EmbMinCos)
               SELECT h.a_id, h.b_id, h.cos_sim
               FROM hp h
               JOIN sigs sa ON sa.vec_id = h.a_id
               JOIN sigs sb ON sb.vec_id = h.b_id
               WHERE bit_count(xor(sa.s1, sb.s1)) + bit_count(xor(sa.s2, sb.s2)) <= $EmbGlobalGate AND (len(list_filter(range(0, 6),
                        i -> bit_count((xor(sa.s1, sb.s1) >> (i * 10)) & 1023) <= 2)) > 0
                   OR len(list_filter(range(0, 6),
                        i -> bit_count((xor(sa.s2, sb.s2) >> (i * 10)) & 1023) <= 2)) > 0)""")),

    // ---- d11: fuzzy near-dup via bounded edit distance -----------------
    // Levenshtein ≤ k over short documents — the title/URL/snippet fuzzy-
    // match shape, where character-level edits (typos, boilerplate
    // suffixes) beat token-level Jaccard. Candidate generation is a
    // LOSSLESS length-band join: edit distance ≥ |len(a) − len(b)|, so
    // banding lengths into (k+1)-wide bins and probing the 3 adjacent
    // bins can never drop a true pair (unlike prefix/first-char blocking,
    // which drops pairs that differ at the block key). The DP runs
    // through Spark's threshold form (levenshtein(a, b, k): O(k·len)
    // banded with early exit, −1 beyond k), and only on band candidates
    // (~O(n · docs-per-length-band)) — never all pairs, never an
    // unbounded O(len²) per pair.
    //
    // Scale bound, stated honestly: length blocking is content-blind, so
    // candidates are Σ_bins n_b·(n_b + neighbors) — LINEAR in corpus
    // size only while docs-per-length-band is bounded (true when the
    // keyspace is per-domain titles/snippets; false for "every short doc
    // on the web in one pot"). The char-histogram L1 prefilter below
    // keeps the per-candidate cost at ~28 ops so a 10⁶-doc band costs a
    // cheap 10¹²-op pass per band pair-block, but for open-web scale the
    // next rung is PassJoin-style segment blocking (each string split
    // into k+1 segments, exact-match on one — still lossless), which
    // this operator's shape accommodates as a drop-in candidate stage.
    ("d11_dedup_editdist",
      (s, d) => {
        import org.apache.spark.sql.graft.TextHash.{charHistogramCol, l1Long}
        val k = 15; val w = k + 1
        // Two stacked LOSSLESS prefilters ahead of the O(k·len) DP:
        // length bands (ed >= |len(a)−len(b)|) bound the join, and the
        // 28-bucket char-histogram L1 (one edit moves at most two bucket
        // counts by one ⇒ ed >= L1/2) kills the candidates whose lengths
        // happen to agree but whose contents don't — on the sf0.1 corpus
        // that is ~99% of band survivors, so the DP runs only on pairs
        // that are plausibly within k edits.
        val docs = Tables.documents(s, d).filter(col("n_chars") <= 256)
          .select(col("doc_id"), col("text"), col("n_chars"),
            charHistogramCol(col("text")).as("hist"),
            floor(col("n_chars") / w).cast("long").as("bin"))
        val probes = docs.select(col("doc_id").as("a_id"), col("text").as("ta"),
          col("n_chars").as("la"), col("hist").as("hist_a"),
          explode(array(col("bin") - 1, col("bin"), col("bin") + 1)).as("bin"))
        probes.join(
            docs.select(col("doc_id").as("b_id"), col("text").as("tb"),
              col("n_chars").as("lb"), col("hist").as("hist_b"), col("bin")),
            Seq("bin"))
          .filter(col("a_id") < col("b_id") && abs(col("la") - col("lb")) <= k &&
            l1Long(col("hist_a"), col("hist_b")) <= 2 * k)
          .select(col("a_id"), col("b_id"),
            levenshtein(col("ta"), col("tb"), k).cast("long").as("edit_dist"))
          .filter(col("edit_dist") >= 0)
      },
      Some(editDistOracle)),

    // ---- d15: PassJoin segment blocking (d11's open-web rung) ----------
    // The content-AWARE candidate stage d11's Scaladoc names for the
    // regime its length bands can't serve ("every short doc on the web
    // in one pot"): PassJoin (Li, Deng, Feng 2011) segment blocking.
    // Same contract, same threshold, same oracle as d11 — the driver's
    // correctness gate therefore proves the blocking LOSSLESS against
    // the all-pairs reconstruction, and DedupSpec pins d15 ≡ d11.
    // Where d11's bands block on length alone (population per band is
    // the scale bound), d15 blocks on CONTENT: a pair survives only if
    // it shares an exact segment at a compatible position, so unrelated
    // same-length docs generate no candidates — which is why d15 runs
    // in the replica smoke d11 is excluded from (replica-disjoint
    // vocabulary ⇒ zero cross-replica candidates ⇒ linear).
    ("d15_editdist_passjoin",
      (s, d) => passJoinPairs(
        Tables.documents(s, d).filter(col("n_chars") <= 256), 15),
      Some(editDistOracle)),

    // ---- d12: repeated-span detection (exact substring dedup signal) ---
    // Document-level dedup misses REPEATED SPANS — boilerplate headers,
    // quoted passages, templated paragraphs — that exact-substring dedup
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better") removes at the span level. The distributed analog
    // of their suffix-array pass: every word position emits its 5-gram
    // hash (positional GramHashList — multiplicity kept, one codegen'd
    // pass per doc), and [[spanStats]] marks positions whose gram occurs
    // ≥2 times anywhere in the corpus via a skew-free (doc, gram)
    // aggregate + an AQE-splittable join on the gram hash (see its
    // Scaladoc for why not a count window), yielding the per-doc
    // duplicated-position fraction a curation pipeline thresholds on
    // (or uses to route docs to span excision).
    ("d12_dedup_spans",
      (s, d) => spanStats(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
               g AS (SELECT doc_id,
                            w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS sg
                     FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                           FROM toks WHERE len(w) >= 5)
                     UNION ALL
                     SELECT doc_id, text AS sg FROM documents
                     WHERE len(string_split(text, ' ')) < 5),
               c AS (SELECT doc_id, count(*) OVER (PARTITION BY sg) AS cnt FROM g)
               SELECT doc_id, count(*) AS n_grams,
                      CAST(count(*) FILTER (WHERE cnt >= 2) AS BIGINT) AS n_dup_grams,
                      FLOOR(count(*) FILTER (WHERE cnt >= 2) * 1e6 / count(*) + 0.5) / 1e6
                        AS dup_fraction
               FROM c GROUP BY doc_id""")),

    // ---- d14: span EXCISION (the Lee et al. 2022 deliverable) ----------
    // d12 *detects* repeated spans; the recipe's value is the CLEANED
    // corpus: remove every span that occurs ≥2 times in the corpus with
    // length ≥ the match threshold (here ℓ = 5 words — the positional
    // 5-gram length, so a marked position IS a ≥5-word corpus repeat by
    // construction). A word is excised iff ANY of the ≤5 grams covering
    // it is duplicated — exactly the union of duplicated spans. Shape at
    // scale: one codegen'd positional-gram pass, the d12 skew-free
    // (doc, gram) aggregate for the corpus-count set, one AQE-splittable
    // join on the gram hash, and a per-doc collect of duplicated
    // positions (bounded by doc length) driving a map-side HOF filter
    // over the word array. Shuffle contract (plan-gated with typed
    // exchange inspection): the position stream rides gram-keyed
    // exchanges as NARROW (doc, pos, hash) integer triples — the d12
    // posture — while TEXT/word data rides only doc_id-keyed exchanges,
    // exactly once, for the reconstruction join.
    ("d14_span_excision",
      (s, d) => exciseSpans(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
               g AS (SELECT doc_id, i - 1 AS p,
                            w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS sg
                     FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                           FROM toks WHERE len(w) >= 5)
                     UNION ALL
                     SELECT doc_id, 0 AS p, text AS sg FROM documents
                     WHERE len(string_split(text, ' ')) < 5),
               dupg AS (SELECT sg FROM g GROUP BY sg HAVING count(*) >= 2),
               dp AS (SELECT doc_id, p FROM g WHERE sg IN (SELECT sg FROM dupg)),
               words AS (SELECT doc_id, i, w[i] AS word
                         FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
                               FROM toks)),
               kept AS (SELECT wd.doc_id, wd.i, wd.word FROM words wd
                        WHERE NOT EXISTS (SELECT 1 FROM dp
                          WHERE dp.doc_id = wd.doc_id
                            AND dp.p + 1 <= wd.i AND wd.i <= dp.p + 5))
               SELECT d.doc_id,
                      coalesce(string_agg(k.word, ' ' ORDER BY k.i), '') AS clean_text,
                      CAST(count(k.word) AS BIGINT) AS n_kept,
                      CAST(len(string_split(d.text, ' ')) - count(k.word) AS BIGINT)
                        AS n_dropped
               FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
               GROUP BY d.doc_id, d.text""")),

    // ---- d13: incremental dedup (new batch vs standing corpus) ----------
    // The production shape dedup actually runs in: a NEW CRAWL BATCH
    // (here: doc_id ≡ 0 mod 5, 20%) deduplicated against the standing
    // corpus — never batch-vs-batch, never corpus-vs-corpus (the corpus
    // was already deduped when it was ingested). Cheap-first cascade:
    //   1. exact drop — md5(text) LEFT ANTI join against the corpus's
    //      hash stream (no distinct needed: anti-join semantics absorb
    //      duplicate keys), keyed shuffle of hashes only;
    //   2. near-dup drop — d02's MinHash-LSH machinery verbatim, but the
    //      band join is batch×corpus (asymmetric: the small batch side
    //      probes the corpus band table — at 100 TB the corpus bands are
    //      a standing AnnIndex-style layout and this is a pruned lookup,
    //      not a rebuild), first-matching-band dedups candidates
    //      map-side, exact Jaccard ≥ 0.9 verifies on full gram sets, and
    //      the final drop is another LEFT ANTI (again distinct-free).
    // Candidates are O(batch·dup_rate); the corpus never self-joins.
    // Oracle-exact because exact-text dups have identical signatures
    // (all bands match — unmissable) and 8×4 banding at jac ≥ 0.9 has
    // per-pair miss probability < 1e-8 (the d02 measurement).
    ("d13_incremental_dedup",
      (s, d) => {
        val bands = 8; val rows = 4
        val docsT = Tables.documents(s, d)
        val isBatch = col("doc_id") % 5 === 0
        // Stage 1: exact cascade — drop batch docs whose raw text already
        // exists in the corpus, BEFORE any signature work. Cut
        // because the survivor set feeds BOTH the band table and the final
        // anti-join (the ngramPairs pattern — without it the md5 anti-join
        // subtree plans and executes twice).
        val exactSurv = docsT.filter(isBatch)
          .withColumn("h", md5(col("text")))
          .join(docsT.filter(!isBatch).select(md5(col("text")).as("h")),
            Seq("h"), "left_anti")
          .drop("h")
          .cut
        // Stage 2: MinHash-LSH candidates, batch-survivors × corpus —
        // band table + exact-Jaccard verify shared verbatim with d02
        // (Lsh.minhashBandTable/jaccardVerifiedPairs), so the band
        // geometry d02's recall measurement rests on cannot drift.
        val bat = Lsh.minhashBandTable(exactSurv, 3, bands, rows)
        val corp = Lsh.minhashBandTable(docsT.filter(!isBatch), 3, bands, rows)
        val cands = bat.as("a").join(corp.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
          .filter(col("a.band") === Lsh.firstMatchingBandArrays(col("a.bsig"), col("b.bsig")))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        val dupIds = Lsh.jaccardVerifiedPairs(cands, docsT, 0.9)
          .select(col("a_id").as("doc_id"))
        exactSurv.join(dupIds, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_chars"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
               idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
                       FROM toks WHERE len(w) >= 3),
               sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sg
                      FROM idx
                      UNION ALL
                      SELECT doc_id, text AS sg FROM documents
                      WHERE len(string_split(text, ' ')) < 3),
               sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
               x AS (SELECT a.doc_id AS bat_id, b.doc_id AS corp_id, count(*) AS c
                     FROM sh a JOIN sh b ON a.sg = b.sg
                     WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                     GROUP BY 1, 2),
               dup AS (SELECT DISTINCT bat_id FROM x
                       JOIN sz sa ON sa.doc_id = x.bat_id
                       JOIN sz sb ON sb.doc_id = x.corp_id
                       WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9)
               SELECT doc_id, source, n_chars FROM documents
               WHERE doc_id % 5 = 0
                 AND doc_id NOT IN (SELECT bat_id FROM dup)""")),

    // ---- d16: gram-set CONTAINMENT pairs (near-subset detection) -------
    // Jaccard (d04) under-scores SUBSET duplication: a paragraph quoted
    // inside a 10× longer page has |A∩B|/|A∪B| ≈ 0.1 but containment
    // |A∩B|/|A| ≈ 1.0 — the asymmetric measure is what catches quoted /
    // wrapped / excerpted content (the d12 span signal at document
    // granularity). Same df-capped inverted-index candidate core as d04
    // ([[gramIndex]]), same integer-rational no-false-drop prefilter —
    // but cross-multiplied against min(|A|,|B|), the SMALLER set, and
    // thresholded at 4/5. Output keys each pair as (small ⊆ big), with
    // the exact intersection count; containment = inter/n_small is one
    // division on exact integers (IEEE-identical both engines).
    //
    // The gram-POSTINGS self-join is pinned to a shuffle join (r13):
    // this was the r10–r12 boundary oscillator — see [[PostingsJoinHint]]
    // for the measured diagnosis (the flip reproduces rep-to-rep in one
    // JVM) and why only the postings join is pinned while the per-doc
    // sides stay AQE-decided. d16 exits the cross-SF drift allowlist.
    ("d16_containment",
      (s, d) => {
        val (hs, cold, hotCnt) = gramIndex(s, d)
        val (num, den, minSmall) = (4, 5, 5)
        val a = cold.select(col("doc_id").as("a_id"), col("n").as("na"), col("h"))
        val b = cold.select(col("doc_id").as("b_id"), col("n").as("nb"), col("h").as("hb"))
          .hint(PostingsJoinHint) // see [[PostingsJoinHint]]
        val cands = a.join(b, col("h") === col("hb") && col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("c_cold"), max(col("na")).as("na"), max(col("nb")).as("nb"))
        val pre = cands
          .join(hotCnt.select(col("doc_id").as("a_id"), col("n_hot").as("ha")), "a_id")
          .join(hotCnt.select(col("doc_id").as("b_id"), col("n_hot").as("hb2")), "b_id")
          .filter((col("c_cold") + least(col("ha"), col("hb2"))) * lit(den)
            >= least(col("na"), col("nb")) * lit(num))
        pre
          .join(hs.select(col("doc_id").as("a_id"), col("hs").as("hsa")), "a_id")
          .join(hs.select(col("doc_id").as("b_id"), col("hs").as("hsb")), "b_id")
          .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
          .filter(col("inter") * den >= least(col("na"), col("nb")) * num
            && least(col("na"), col("nb")) >= minSmall)
          .select(
            when(col("na") < col("nb"), col("a_id"))
              .when(col("na") > col("nb"), col("b_id"))
              .otherwise(least(col("a_id"), col("b_id"))).as("small_id"),
            when(col("na") < col("nb"), col("b_id"))
              .when(col("na") > col("nb"), col("a_id"))
              .otherwise(greatest(col("a_id"), col("b_id"))).as("big_id"),
            least(col("na"), col("nb")).cast("long").as("n_small"),
            col("inter"),
            (col("inter").cast("double") / least(col("na"), col("nb"))).as("containment"))
      },
      Some(s"""WITH $oracleShingleJaccard,
               cont AS (SELECT ia, ib, c, has_cold, sa.n AS na, sb.n AS nb
                        FROM inter JOIN sz sa ON sa.doc_id = ia
                        JOIN sz sb ON sb.doc_id = ib)
               SELECT CASE WHEN na < nb THEN ia WHEN na > nb THEN ib
                           ELSE LEAST(ia, ib) END AS small_id,
                      CASE WHEN na < nb THEN ib WHEN na > nb THEN ia
                           ELSE GREATEST(ia, ib) END AS big_id,
                      CAST(LEAST(na, nb) AS BIGINT) AS n_small,
                      CAST(c AS BIGINT) AS inter,
                      c * 1.0 / LEAST(na, nb) AS containment
               FROM cont
               WHERE c * 5 >= LEAST(na, nb) * 4
                 AND LEAST(na, nb) >= 5 AND has_cold = 1""")),

    // ---- d17: crawl-diff (cross-snapshot churn report) -----------------
    // What changed between two crawls of the same sources — the
    // refresh-rate signal that drives recrawl scheduling and d13's batch
    // sizing. The "next crawl" here is a deterministic transform of the
    // corpus (drop doc_id % 7 = 3, append a marker to doc_id % 5 = 1,
    // leave the rest); the operator is a FULL OUTER join on doc_id with
    // md5 content comparison → status ∈ added/removed/modified/unchanged,
    // rolled up per source. Shape at 100 TB: both sides carry only
    // (doc_id, source, md5) — 48-byte rows, one co-partitioned join on
    // the id; text never shuffles. All counts integer-exact.
    ("d17_crawl_diff",
      (s, d) => {
        val base = Tables.documents(s, d)
        val old = base.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        // Next crawl: %7=3 disappear, %5=1 change content, and %11=0
        // re-appear under NEW ids (fresh pages) — so every status
        // branch, including `added`, is live on real data.
        val nw = base.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"), col("source"),
            md5(when(col("doc_id") % 5 === 1, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("h"))
          .union(base.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 5000000L).as("doc_id"), col("source"),
              md5(concat(col("text"), lit(" fresh"))).as("h")))
        // Presence via literal markers, NOT hash nullness — a NULL-text
        // row present on both sides must compare as unchanged, not be
        // misread as absent (md5(NULL) is NULL).
        val joined = old
          .select(col("doc_id"), col("source").as("src_a"), col("h").as("ha"),
            lit(1).as("pa"))
          .join(nw.select(col("doc_id"), col("source").as("src_b"),
              col("h").as("hb"), lit(1).as("pb")),
            Seq("doc_id"), "full_outer")
          .select(coalesce(col("src_a"), col("src_b")).as("source"),
            when(col("pa").isNull, "added")
              .when(col("pb").isNull, "removed")
              .when(col("ha") <=> col("hb"), "unchanged")
              .otherwise("modified").as("status"))
        joined.groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"))
      },
      Some("""WITH old AS (SELECT doc_id, source, md5(text) AS h, 1 AS pa FROM documents),
              nw AS (SELECT doc_id, source,
                       md5(CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END) AS h,
                       1 AS pb
                     FROM documents WHERE doc_id % 7 <> 3
                     UNION ALL
                     SELECT doc_id + 5000000, source, md5(text || ' fresh'), 1
                     FROM documents WHERE doc_id % 11 = 0),
              j AS (SELECT coalesce(o.source, n.source) AS source,
                      CASE WHEN o.pa IS NULL THEN 'added'
                           WHEN n.pb IS NULL THEN 'removed'
                           WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
                           ELSE 'modified' END AS status
                    FROM old o FULL OUTER JOIN nw n ON n.doc_id = o.doc_id)
              SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
              FROM j GROUP BY 1, 2""")),

    // ---- d18: soft dedup (down-weighting instead of dropping) ------------
    // The MODERN dedup policy: under a fixed token budget, repeated data
    // still has value at diminishing returns (Muennighoff et al. 2023,
    // data-constrained scaling) — so instead of d01's hard drop, keep ONE
    // representative per exact-duplicate group carrying (a) a sampling
    // weight 1/n that makes the corpus distribution uniform over DISTINCT
    // content, and (b) an epoch cap (min(n, 4) — the ~4-repeat knee of
    // the public scaling study) for the repeat-budget planner. Shape at
    // scale: EXACTLY d01's one md5-keyed aggregate with map-side combine
    // — the policy change is free; representative = min(doc_id) is
    // deterministic, the weight one gridded division of exact longs.
    ("d18_soft_dedup",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"),
          (floor(lit(1.0) / col("n_copies") * 1000000 + 0.5) / 1000000)
            .as("keep_weight"),
          least(col("n_copies"), lit(4L)).as("effective_epochs")),
      Some("""SELECT min(doc_id) AS doc_id,
                     CAST(count(*) AS BIGINT) AS n_copies,
                     FLOOR(CAST(1 AS DOUBLE) / count(*) * 1000000 + 0.5)
                       / 1000000 AS keep_weight,
                     LEAST(CAST(count(*) AS BIGINT), CAST(4 AS BIGINT))
                       AS effective_epochs
              FROM documents GROUP BY md5(text)""")),

    // ---- d20: dedup-savings audit (what the keeper pass actually buys) -
    // The number a pipeline owner reports after d06/d09 run: how many
    // near-dup groups exist, at what sizes, and how much corpus mass the
    // keeper rule drops. Group-size histogram over the d06 components
    // (same ccLabels core — the labeling can't drift from the operator
    // it audits) with per-size drop counts and character savings (the
    // non-keeper mass). Shape at scale: the CC loop is d06's; the audit
    // adds one doc-keyed join to stitch n_chars onto the (tiny) labeled
    // set, one component aggregate, one size-keyed aggregate — all
    // frames bounded by the duplicate population, not the corpus.
    ("d20_dedup_savings",
      (s, d) => {
        val labels = ccLabels(s, d)
        labels
          .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("group_size"),
            sum(when(col("doc_id") =!= col("label"), col("n_chars"))
              .otherwise(lit(0L))).as("chars_dropped"))
          .groupBy(col("group_size"))
          .agg(count(lit(1)).as("n_groups"),
            sum(col("group_size") - 1).as("n_dropped"),
            sum(col("chars_dropped")).as("chars_saved"))
      },
      Some(s"""WITH RECURSIVE $oracleCcComponents,
               wg AS (SELECT c.keeper_id,
                        CAST(count(*) AS BIGINT) AS group_size,
                        CAST(sum(CASE WHEN c.doc_id <> c.keeper_id
                                      THEN d.n_chars ELSE 0 END) AS BIGINT)
                          AS chars_dropped
                      FROM comp c JOIN documents d USING (doc_id)
                      GROUP BY 1)
               SELECT group_size,
                      CAST(count(*) AS BIGINT) AS n_groups,
                      CAST(sum(group_size - 1) AS BIGINT) AS n_dropped,
                      CAST(sum(chars_dropped) AS BIGINT) AS chars_saved
               FROM wg GROUP BY 1""")),

    // ---- d21: LSH dedup eval (candidate precision/recall, measured) ----
    // v21 answers "how many IVF cells buy the recall target"; this is
    // the dedup twin: how good are d02's MinHash-band CANDIDATES
    // against the exact >= 0.9 Jaccard truth (d06's edge rule, the same
    // 3-word shingle space)? Recall tells you what the banding misses
    // before verification can save it; precision tells you how much
    // exact-verify work each true pair costs. Both sides are the
    // production code paths (Lsh.minhashBandTable + the first-matching-
    // band rule; ngramPairs), checkpointed once and compared with one
    // LEFT SEMI join + three 1-row counts — driver sees five scalars.
    // Oracle-checked from the exported band table (the t17 pattern):
    // DuckDB re-derives the candidate pair set (any shared (band, sig)
    // bucket), the exact ≥0.9 n-gram truth from raw text, and all five
    // metrics; the MinHash kernel itself stays spec-pinned
    // (TextHashPropertySpec + the planted-dup recall floor in DedupSpec).
    ("d21_lsh_dedup_eval",
      (s, d) => {
        // Materialized ONCE (the d02 r14 fix, same shape): the band
        // table feeds the oracle export AND both sides of the candidate
        // self-join — unchecked, each consumer re-runs the whole
        // shingling + 32-minhash kernel. The checkpointed stream is the
        // narrow (doc_id, bsig, band, sig) projection.
        val buckets = Lsh.minhashBandTable(Tables.documents(s, d), 3, 8, 4)
          .cut
        OracleExport.writeOnce(
          buckets.select(col("doc_id"), col("band"), col("sig")),
          OracleExport.MinHashBandPath, OracleExport.docKeyFor(Tables.documents(s, d), d))
        val cands = buckets.as("a").join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
              && col("a.doc_id") < col("b.doc_id"))
          .filter(col("a.band") ===
            Lsh.firstMatchingBandArrays(col("a.bsig"), col("b.bsig")))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .cut
        val exact = ngramPairs(s, d, 9, 10)
          .select(col("a_id"), col("b_id")).cut
        val hits = exact.join(cands, Seq("a_id", "b_id"), "left_semi")
        exact.agg(count(lit(1)).as("n_true_pairs"))
          .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          .select(col("n_true_pairs"), col("n_candidates"), col("n_hits"),
            when(col("n_candidates") === 0, lit(null).cast("double"))
              .otherwise(floor(col("n_hits").cast("double") / col("n_candidates")
                * 1000000 + 0.5) / 1000000).as("precision"),
            when(col("n_true_pairs") === 0, lit(null).cast("double"))
              .otherwise(floor(col("n_hits").cast("double") / col("n_true_pairs")
                * 1000000 + 0.5) / 1000000).as("recall"))
      },
      Some(s"""WITH $oracleShingleJaccard,
               bands AS MATERIALIZED (
                 SELECT doc_id, band, sig
                 FROM ${OracleExport.readSql(OracleExport.MinHashBandPath)}
                 WHERE corpus_key = ${OracleExport.docKeySql}),
               cands AS MATERIALIZED (
                 SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
               ex AS MATERIALIZED (
                 SELECT ia AS a_id, ib AS b_id FROM jacs
                 WHERE jac >= 0.9 AND has_cold = 1),
               hits AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex
                        WHERE EXISTS (SELECT 1 FROM cands c
                                      WHERE c.a_id = ex.a_id AND c.b_id = ex.b_id)),
               te AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
               ca AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cands)
               SELECT te.n AS n_true_pairs, ca.n AS n_candidates, hits.n AS n_hits,
                      CASE WHEN ca.n = 0 THEN NULL
                           ELSE FLOOR(CAST(hits.n AS DOUBLE) / ca.n * 1000000 + 0.5)
                                / 1000000 END AS "precision",
                      CASE WHEN te.n = 0 THEN NULL
                           ELSE FLOOR(CAST(hits.n AS DOUBLE) / te.n * 1000000 + 0.5)
                                / 1000000 END AS recall
               FROM te, ca, hits""")),

    // ---- d22: MinHash band-geometry sweep -------------------------------
    // The design decision d21 evaluates one point of, measured across
    // the whole knob (the LSH S-curve table from Mining Massive
    // Datasets): the SAME 32 minhashes re-sliced as 4×8, 8×4 and 16×2
    // band geometries, each geometry's candidate set scored for
    // precision/recall against the one exact ≥0.9 n-gram truth. ONE
    // signature pass (checkpointed) feeds all three slicings — geometry
    // choice costs nothing extra at signature time, which is exactly
    // why it should be swept, not guessed: more bands × fewer rows
    // slides the S-curve left (recall up, precision down). All three
    // geometries ride one unioned band frame: one self-join (geom in
    // the key), one semi-join against the truth, per-geom counts.
    // Oracle-checked from the exported per-geometry band table (the
    // d21 pattern; the minhash kernel stays spec-pinned).
    ("d22_band_geometry_sweep",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val geoms = Seq((4, 8), (8, 4), (16, 2)) // (bands, rowsPerBand) × 32 hashes
        val mh = docs.select(col("doc_id"),
          org.apache.spark.sql.graft.TextHash
            .minHashSignature(col("text"), 3, 32).as("mh"))
          .cut
        val bands = geoms.map { case (b, r) =>
          mh.select(lit(s"${b}x$r").as("geom"), col("doc_id"),
              posexplode(array((0 until b).map(i =>
                xxhash64(slice(col("mh"), i * r + 1, r))): _*)))
            .withColumnsRenamed(Map("pos" -> "band", "col" -> "sig"))
        }.reduce(_ unionAll _).cut
        OracleExport.writeOnce(
          bands.select(col("geom"), col("doc_id"), col("band"), col("sig")),
          OracleExport.BandSweepPath, OracleExport.docKeyFor(docs, d))
        val cands = bands.as("a").join(bands.as("b"),
            col("a.geom") === col("b.geom") && col("a.band") === col("b.band")
              && col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.geom").as("geom"),
            col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct().cut
        val exact = ngramPairs(s, d, 9, 10)
          .select(col("a_id"), col("b_id")).cut
        val hits = cands.join(exact, Seq("a_id", "b_id"), "left_semi")
          .groupBy(col("geom")).agg(count(lit(1)).as("n_hits"))
        val per = cands.groupBy(col("geom")).agg(count(lit(1)).as("n_candidates"))
          .join(hits, Seq("geom"), "left")
        geoms.map { case (b, r) => (s"${b}x$r", b.toLong, r.toLong) }
          .toDF("geom", "n_bands", "rows_per_band")
          .join(per, Seq("geom"), "left")
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_true_pairs"))))
          .select(col("geom"), col("n_bands"), col("rows_per_band"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            when(coalesce(col("n_candidates"), lit(0L)) === 0,
              lit(null).cast("double"))
              .otherwise(floor(coalesce(col("n_hits"), lit(0L)).cast("double")
                / col("n_candidates") * 1000000 + 0.5) / 1000000).as("precision"),
            when(col("n_true_pairs") === 0, lit(null).cast("double"))
              .otherwise(floor(coalesce(col("n_hits"), lit(0L)).cast("double")
                / col("n_true_pairs") * 1000000 + 0.5) / 1000000).as("recall"))
      },
      Some(s"""WITH $oracleShingleJaccard,
               bands AS MATERIALIZED (
                 SELECT geom, doc_id, band, sig
                 FROM ${OracleExport.readSql(OracleExport.BandSweepPath)}
                 WHERE corpus_key = ${OracleExport.docKeySql}),
               cand AS MATERIALIZED (
                 SELECT DISTINCT a.geom, a.doc_id AS a_id, b.doc_id AS b_id
                 FROM bands a JOIN bands b
                   ON a.geom = b.geom AND a.band = b.band AND a.sig = b.sig
                      AND a.doc_id < b.doc_id),
               ex AS MATERIALIZED (
                 SELECT ia AS a_id, ib AS b_id FROM jacs
                 WHERE jac >= 0.9 AND has_cold = 1),
               te AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
               per AS (
                 SELECT geom, CAST(count(*) AS BIGINT) AS n_candidates,
                        CAST(count(*) FILTER (WHERE EXISTS (
                          SELECT 1 FROM ex
                          WHERE ex.a_id = cand.a_id AND ex.b_id = cand.b_id))
                          AS BIGINT) AS n_hits
                 FROM cand GROUP BY geom),
               gd AS (SELECT * FROM (VALUES ('4x8', 4, 8), ('8x4', 8, 4),
                      ('16x2', 16, 2)) t(geom, n_bands, rows_per_band))
               SELECT gd.geom, CAST(gd.n_bands AS BIGINT) AS n_bands,
                      CAST(gd.rows_per_band AS BIGINT) AS rows_per_band,
                      coalesce(p.n_candidates, 0) AS n_candidates,
                      coalesce(p.n_hits, 0) AS n_hits,
                      CASE WHEN coalesce(p.n_candidates, 0) = 0 THEN NULL
                           ELSE FLOOR(CAST(coalesce(p.n_hits, 0) AS DOUBLE)
                                / p.n_candidates * 1000000 + 0.5)
                                / 1000000 END AS "precision",
                      CASE WHEN te.n = 0 THEN NULL
                           ELSE FLOOR(CAST(coalesce(p.n_hits, 0) AS DOUBLE)
                                / te.n * 1000000 + 0.5)
                                / 1000000 END AS recall
               FROM gd LEFT JOIN per p ON p.geom = gd.geom, te""")),

    // ---- d19: chunk-level exact dedup --------------------------------
    // d01's content-hash grouping at CHUNK granularity — the dedup a
    // RAG/pretraining corpus runs AFTER t35's windowing, where repeated
    // boilerplate (headers, licenses, templated passages) duplicates at
    // the window level even when whole documents differ. The chunk
    // derivation IS t35's ([[Chunking.chunked]] — one definition in a
    // LEAF object, so this eager oracle interpolation cannot close a
    // Dedup↔TextAnalysis object-init cycle,
    // so the dedup audits exactly the stream the pipeline emits), then
    // ONE hash exchange of (chunk_hash) with map-side combine, the d01
    // shape: at 100 TB nothing but 16-byte hashes + counters shuffle,
    // and the fan-out (≤ nw/stride chunks per doc) is linear by
    // construction. Output: every repeated window with its occurrence
    // and distinct-doc counts — the excision/weighting input at chunk
    // granularity (d14/d18's role one level down).
    ("d19_chunk_dedup",
      (s, d) => Chunking.chunked(Tables.documents(s, d))
        .groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_occurrences") >= 2),
      Some(s"""WITH ${Chunking.chunkOracleCte}
               SELECT chunk_hash,
                      CAST(count(*) AS BIGINT) AS n_occurrences,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM ch GROUP BY chunk_hash HAVING count(*) >= 2""")),

    // ---- d23: winnowing fingerprint overlap (MOSS) ---------------------
    // (selection rule in [[winnowSelect]] — shared with the DedupSpec
    // guarantee check so the k/w contract can't drift)
    // Schleimer/Wilkerson/Aiken's winnowing (SIGMOD'03 — the MOSS
    // algorithm) as a first-class overlap screen, the LOCAL-window
    // completion of t04 (which runs window = whole doc): hash every
    // 4-token gram, slide a window of 4 gram hashes, keep each window's
    // minimum — the selected set is a deterministic ~2/(w+1) sample of
    // the gram stream with the paper's guarantee that any shared token
    // run of length ≥ k+w−1 = 7 contributes at least one shared
    // fingerprint (no d02-style probabilistic miss). Docs with <4 grams
    // degrade to t04's global-min rule; <4 tokens to the whole-text
    // gram. Overlap is exact Jaccard on the selected sets after the
    // GramDfCap rule (a fingerprint every boilerplate page shares
    // generates df² candidate pairs and measures template reuse, not
    // content overlap — the d04 contract one level up), thresholded at
    // 1/2 by integer cross-multiplication (3·c ≥ na+nb — d04's no-
    // false-drop rule; 0.5 is exact in binary but the integer form keeps
    // the contract uniform). Plan: selection is ONE map-side HOF pass
    // (array_distinct before explode — no distinct exchange ever);
    // df rides the self-join's own fp exchange as a count window; the
    // selected stream is cut once and feeds candidates,
    // both join sides, and the per-doc sizes. At 100 TB the shuffled
    // stream is the ~w-fold-sparsified fingerprint sample, not the gram
    // stream — winnowing's whole point, and why MOSS screens giant
    // corpora: candidate work is (df ≤ cap)² per FINGERPRINT, on 1/(w+1)
    // as many keys as d04 pays.
    ("d23_winnowing",
      (s, d) => {
        val ex = winnowSelect(Tables.documents(s, d))
          .select(col("doc_id"), explode(col("fps")).as("fp"))
        val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        val cold = ex.withColumn("df", count(lit(1)).over(wFp))
          .filter(col("df") <= 1000).drop("df")
          .cut
        val nc = cold.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        cold.as("a")
          .join(cold.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("n_shared"))
          .join(nc.select(col("doc_id").as("a_id"), col("n").as("n_a")), "a_id")
          .join(nc.select(col("doc_id").as("b_id"), col("n").as("n_b")), "b_id")
          .filter(col("n_shared") * 3 >= col("n_a") + col("n_b"))
          .select(col("a_id"), col("b_id"), col("n_shared"),
            col("n_a"), col("n_b"),
            (col("n_shared").cast("double")
              / (col("n_a") + col("n_b") - col("n_shared"))).as("overlap"))
      },
      Some("""WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              g AS (SELECT doc_id,
                      CASE WHEN len(w) >= 4
                        THEN list_transform(range(1, len(w) - 2),
                               i -> md5(array_to_string(w[i:i+3], ' ')))
                        ELSE [md5(array_to_string(w, ' '))] END AS gr
                    FROM toks),
              sel AS (SELECT doc_id,
                        CASE WHEN len(gr) >= 4
                          THEN list_distinct(list_transform(range(1, len(gr) - 2),
                                 p -> list_min(gr[p:p+3])))
                          ELSE [list_min(gr)] END AS fps
                      FROM g),
              ex AS MATERIALIZED (
                SELECT doc_id, unnest(fps) AS fp FROM sel),
              cold AS MATERIALIZED (
                SELECT * FROM ex WHERE fp IN (
                  SELECT fp FROM ex GROUP BY fp HAVING count(*) <= 1000)),
              nc AS MATERIALIZED (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                FROM cold GROUP BY doc_id),
              pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                            CAST(count(*) AS BIGINT) AS n_shared
                     FROM cold a JOIN cold b
                       ON a.fp = b.fp AND a.doc_id < b.doc_id
                     GROUP BY 1, 2)
              SELECT pr.a_id, pr.b_id, pr.n_shared,
                     na.n AS n_a, nb.n AS n_b,
                     CAST(pr.n_shared AS DOUBLE)
                       / (na.n + nb.n - pr.n_shared) AS overlap
              FROM pr JOIN nc na ON na.doc_id = pr.a_id
                      JOIN nc nb ON nb.doc_id = pr.b_id
              WHERE pr.n_shared * 3 >= na.n + nb.n""")),

    // ---- d24: multi-benchmark decontamination report --------------------
    // The report shape model releases actually publish (GPT-3 App. C,
    // Llama 2 A.6): overlap against EVERY held-out benchmark at once,
    // attributed per (benchmark, source) — which source leaks which
    // eval, at what rate. Mechanism is d08's exactly (5-token shingle
    // sets, corpus-df cap against boilerplate grams, broadcast bench
    // set, zero corpus shuffle), with the same two-gram-pass cost
    // class as d08 itself (one pass computes the df cap, one scores) —
    // the win over naive multi-benchmark decontam is that the bench
    // gram table carries a benchmark tag, so all 3 benchmarks ride the
    // SAME two passes instead of 3× them. A doc counts contaminated against bench b
    // when it shares ≥ 2 capped grams with b. Zero-contamination
    // (benchmark, source) cells are kept via the tiny grid join — a
    // report with silently missing rows reads as "clean" when it is
    // actually "unmeasured". Exchanges: the per-(doc, b) distinct-gram
    // aggregate (corpus-keyed, map-side combinable) + two bench-sized
    // aggregates; the corpus never shuffles its text.
    ("d24_decontam_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isBench = (col("doc_id") % 100).between(1, 3)
        val g = docs
          .select(col("doc_id"), col("source"),
            explode(shingleHashSet(col("text"), 5)).as("h"))
        val benchG = g.filter(isBench)
          .select((col("doc_id") % 100 - 1).as("b"), col("h")).distinct()
        val dfc = g.join(broadcast(benchG.select(col("h")).distinct()), "h")
          .groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= GramDfCap).select(col("h"))
        val benchCapped = benchG.join(dfc, "h")
        val perDoc = g.filter(!isBench)
          .join(broadcast(benchCapped), "h")
          .groupBy(col("b"), col("source"), col("doc_id"))
          .agg(countDistinct(col("h")).as("sg"))
        val agg = perDoc.groupBy(col("b"), col("source"))
          .agg(count(when(col("sg") >= 2, 1)).as("nc"), sum(col("sg")).as("shg"))
        val bySrc = docs.filter(!isBench)
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        bySrc.crossJoin(broadcast(s.range(3).select(col("id").as("b"))))
          .join(broadcast(agg), Seq("b", "source"), "left")
          .select(col("b").as("benchmark"), col("source"), col("n_docs"),
            coalesce(col("nc"), lit(0L)).as("n_contaminated"),
            (coalesce(col("nc"), lit(0L)).cast("double") / col("n_docs"))
              .as("contam_rate"),
            coalesce(col("shg"), lit(0L)).as("shared_grams"))
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                      FROM toks WHERE len(w) >= 5),
              sh5 AS (SELECT DISTINCT doc_id,
                        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sg
                      FROM idx
                      UNION ALL
                      SELECT doc_id, text AS sg FROM documents
                      WHERE len(string_split(text, ' ')) < 5),
              bench AS (SELECT DISTINCT (doc_id % 100) - 1 AS b, sg FROM sh5
                        WHERE (doc_id % 100) BETWEEN 1 AND 3),
              dfc AS (SELECT s.sg FROM sh5 s
                      JOIN (SELECT DISTINCT sg FROM bench) bs USING (sg)
                      GROUP BY s.sg HAVING count(*) <= $GramDfCap),
              bc AS (SELECT b.b, b.sg FROM bench b JOIN dfc USING (sg)),
              perdoc AS (SELECT bc.b, d.source, s.doc_id,
                                count(DISTINCT s.sg) AS sg
                         FROM sh5 s
                         JOIN documents d USING (doc_id)
                         JOIN bc ON s.sg = bc.sg
                         WHERE (s.doc_id % 100) NOT BETWEEN 1 AND 3
                         GROUP BY 1, 2, 3),
              agg AS (SELECT b, source,
                             count(*) FILTER (WHERE sg >= 2) AS nc,
                             sum(sg) AS shg
                      FROM perdoc GROUP BY 1, 2),
              nsrc AS (SELECT source, count(*) AS n_docs FROM documents
                       WHERE (doc_id % 100) NOT BETWEEN 1 AND 3 GROUP BY 1),
              grid AS (SELECT b, source, n_docs
                       FROM (SELECT unnest([0, 1, 2]) AS b), nsrc)
              SELECT CAST(g.b AS BIGINT) AS benchmark, g.source,
                     CAST(g.n_docs AS BIGINT) AS n_docs,
                     CAST(COALESCE(a.nc, 0) AS BIGINT) AS n_contaminated,
                     CAST(COALESCE(a.nc, 0) AS DOUBLE) / g.n_docs AS contam_rate,
                     CAST(COALESCE(a.shg, 0) AS BIGINT) AS shared_grams
              FROM grid g LEFT JOIN agg a ON g.b = a.b AND g.source = a.source""")),

    // ---- d25: EXACT longest duplicated spans (the suffix-array rung) ---
    // d12/d14 mark positions covered by ANY duplicated 5-gram but never
    // measure a span's true extent: consecutive marked positions need
    // not share a PARTNER, so chaining marks overestimates, and the
    // grid caps what it can certify at 5 words. This operator is the
    // rung above (Lee et al. 2022's suffix-array deliverable,
    // re-expressed for Spark): the classic seed-and-chain dot-plot —
    // matching-position PAIRS from the duplicated-gram join, chained
    // along the (doc_a, doc_b, pa−pb) DIAGONAL with the q62
    // gaps-and-islands window. Overlapping equal 5-grams compose
    // exactly — a maximal diagonal run of R pairs certifies a
    // duplicated span of EXACTLY R+4 words at both locations, and every
    // maximal repeated span ≥5 words appears as such a run — so span
    // lengths are exact, not grid-truncated. Scale contract: pairing is
    // quadratic per gram, so seeds take the d04 df-cap (2 ≤ df ≤ 32;
    // pair volume ≤ 32·positions): a span ALL of whose grams exceed the
    // cap is mega-boilerplate already excised wholesale by d01/d02 —
    // the declared division of labor. Pairs shuffle as narrow integer
    // 4-tuples on 8-byte gram hashes; text rides only the final
    // bounded top-K reconstruction join. Output: the top-20 longest
    // spans with both locations and the reconstructed text.
    ("d25_dedup_longest_span",
      (s, d) => longestDupSpans(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              g AS (SELECT doc_id, i - 1 AS p,
                           w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4] AS sg
                    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                          FROM toks WHERE len(w) >= 5)),
              f AS (SELECT sg FROM g GROUP BY sg HAVING count(*) BETWEEN 2 AND 32),
              sd AS (SELECT g.doc_id, g.p, g.sg FROM g JOIN f USING (sg)),
              pr AS (SELECT a.doc_id AS doc_a, a.p AS pa,
                            b.doc_id AS doc_b, b.p AS pb
                     FROM sd a JOIN sd b ON a.sg = b.sg
                     WHERE a.doc_id < b.doc_id
                        OR (a.doc_id = b.doc_id AND a.p < b.p)),
              r AS (SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
                           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                                   ORDER BY pa) AS grp
                    FROM pr),
              runs AS (SELECT doc_a, doc_b, min(pa) AS pos_a, min(pb) AS pos_b,
                              CAST(count(*) + 4 AS BIGINT) AS span_len
                       FROM r GROUP BY doc_a, doc_b, diag, grp),
              top AS (SELECT * FROM runs
                      ORDER BY span_len DESC, doc_a, doc_b, pos_a, pos_b
                      LIMIT 20)
              SELECT t.doc_a, CAST(t.pos_a AS BIGINT) AS pos_a,
                     t.doc_b, CAST(t.pos_b AS BIGINT) AS pos_b, t.span_len,
                     array_to_string(list_slice(w, t.pos_a + 1, t.pos_a + t.span_len), ' ')
                       AS span_text
              FROM top t JOIN toks ON toks.doc_id = t.doc_a
              ORDER BY span_len DESC, doc_a, doc_b, pos_a, pos_b""")),

    // ---- d26: embedding-dedup candidate eval (precision/recall) --------
    // d21's shape for d05: how good is d05's signature rule (band
    // probe ∧ global gate, [[EmbGlobalGate]]) against the exact
    // ≥[[EmbMinCos]] cosine truth? d21 can afford the full exact truth (its gram space
    // is df-capped); here the exact truth IS the quadratic job d05
    // exists to avoid, so the eval runs on a DETERMINISTIC BOUNDED
    // SAMPLE: the 2,000 vectors with the smallest md5(vec_id) (q81's
    // sample device — TakeOrdered, no global window), giving ≤2M sampled
    // pairs at ANY corpus size — constant work, and since true-pair
    // density is a property of the embedding distribution, the sample
    // holds ~the sf0.1 truth count (~144 pairs) at every SF. Both rule
    // and truth are evaluated per sampled pair map-side (popcounts on
    // the signature words that ride the join; one cosine per pair);
    // DuckDB re-derives sample, rule, truth and all five metrics from
    // the exported signature words + raw embeddings independently.
    ("d26_embdedup_eval",
      (s, d) => {
        val bandBits = 10; val bpw = 6; val probeH = 2
        val e = Tables.embeddings(s, d)
        val sigs = e.select(col("vec_id"), col("embedding"),
          hyperplaneSig(col("embedding"), 63).as("s1"),
          hyperplaneSig(col("embedding"), 63, 63).as("s2"))
        // Same export as d05 (writeOnce memo dedups when both run);
        // written HERE too so d26 stands alone under a fresh export root.
        OracleExport.writeOnce(sigs.select(col("vec_id"), col("s1"), col("s2")),
          OracleExport.EmbLshSigsPath, OracleExport.embKeyFor(e, d))
        val samp = sigs
          .orderBy(md5(col("vec_id").cast("string")))
          .limit(2000)
        val a = samp.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
          col("s1").as("sa1"), col("s2").as("sa2"))
        val b = samp.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
          col("s1").as("sb1"), col("s2").as("sb2"))
        // ≤2000-row side broadcast; the a_id < b_id inequality pair join
        // is BOUNDED BY CONSTRUCTION (≤2M pairs at any SF) — the one
        // place a nested-loop join is the right tool, same adjudication
        // as q12's deliberate cross join.
        val bandHit = Lsh.firstBandWithinH(
          col("sa1").bitwiseXOR(col("sb1")),
          col("sa2").bitwiseXOR(col("sb2")), bandBits, bpw, probeH) >= 0
        val candRule = bit_count(col("sa1").bitwiseXOR(col("sb1"))) +
          bit_count(col("sa2").bitwiseXOR(col("sb2"))) <= EmbGlobalGate && bandHit
        val pairs = a.join(broadcast(b), col("a_id") < col("b_id"))
          .select(
            (cosine(col("ea"), col("eb")) >= EmbMinCos).as("is_true"),
            candRule.as("is_cand"))
        pairs.agg(
            count(when(col("is_true"), 1)).as("n_true_pairs"),
            count(when(col("is_cand"), 1)).as("n_candidates"),
            count(when(col("is_true") && col("is_cand"), 1)).as("n_hits"))
          .select(col("n_true_pairs"), col("n_candidates"), col("n_hits"),
            when(col("n_candidates") === 0, lit(null).cast("double"))
              .otherwise(floor(col("n_hits").cast("double") / col("n_candidates")
                * 1000000 + 0.5) / 1000000).as("precision"),
            when(col("n_true_pairs") === 0, lit(null).cast("double"))
              .otherwise(floor(col("n_hits").cast("double") / col("n_true_pairs")
                * 1000000 + 0.5) / 1000000).as("recall"))
      },
      Some(s"""WITH sigs AS MATERIALIZED (
                 SELECT vec_id, s1, s2
                 FROM ${OracleExport.readSql(OracleExport.EmbLshSigsPath)}
                 WHERE corpus_key = ${OracleExport.embKeySql}),
               samp AS MATERIALIZED (
                 SELECT e.vec_id, e.embedding, s.s1, s.s2
                 FROM embeddings e JOIN sigs s USING (vec_id)
                 ORDER BY md5(CAST(e.vec_id AS VARCHAR)) LIMIT 2000),
               pr AS MATERIALIZED (
                 SELECT list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $EmbMinCos
                          AS is_true,
                        (bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)) <= $EmbGlobalGate AND (len(list_filter(range(0, 6),
                                i -> bit_count((xor(a.s1, b.s1) >> (i * 10)) & 1023) <= 2)) > 0
                           OR len(list_filter(range(0, 6),
                                i -> bit_count((xor(a.s2, b.s2) >> (i * 10)) & 1023) <= 2)) > 0))
                          AS is_cand
                 FROM samp a JOIN samp b ON a.vec_id < b.vec_id)
               SELECT CAST(count(*) FILTER (is_true) AS BIGINT) AS n_true_pairs,
                      CAST(count(*) FILTER (is_cand) AS BIGINT) AS n_candidates,
                      CAST(count(*) FILTER (is_true AND is_cand) AS BIGINT) AS n_hits,
                      CASE WHEN count(*) FILTER (is_cand) = 0 THEN NULL
                           ELSE FLOOR(CAST(count(*) FILTER (is_true AND is_cand) AS DOUBLE)
                                / count(*) FILTER (is_cand) * 1000000 + 0.5) / 1000000
                      END AS "precision",
                      CASE WHEN count(*) FILTER (is_true) = 0 THEN NULL
                           ELSE FLOOR(CAST(count(*) FILTER (is_true AND is_cand) AS DOUBLE)
                                / count(*) FILTER (is_true) * 1000000 + 0.5) / 1000000
                      END AS recall
               FROM pr"""))
  )

  /** d25's pipeline over any (doc_id, text) frame — see the defs entry
    * for the exactness and df-cap arguments. Top-K and the cap are
    * parameters so the planted-span spec can exercise edges. */
  private[graft] def longestDupSpans(docs: DataFrame, dfCap: Int = 32,
      topK: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pa"))
    val pos = docs
      .select(col("doc_id"), posexplode(gramHashList(col("text"), 5)))
      .withColumnsRenamed(Map("pos" -> "p", "col" -> "h"))
    val freq = pos.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap).select(col("h"))
    val seed = pos.join(freq, Seq("h"))
    val pairs = seed.select(col("h"), col("doc_id").as("doc_a"), col("p").as("pa"))
      .join(seed.select(col("h"), col("doc_id").as("doc_b"), col("p").as("pb")),
        Seq("h"))
      .filter(col("doc_a") < col("doc_b") ||
        (col("doc_a") === col("doc_b") && col("pa") < col("pb")))
    val runs = pairs
      .select(col("doc_a"), col("doc_b"), (col("pa") - col("pb")).as("diag"),
        col("pa"), col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).cast("long").as("pos_a"),
        min(col("pb")).cast("long").as("pos_b"),
        (count(lit(1)) + 4).as("span_len"))
    runs
      .orderBy(col("span_len").desc, col("doc_a"), col("doc_b"),
        col("pos_a"), col("pos_b"))
      .limit(topK)
      .join(docs.select(col("doc_id").as("doc_a"),
        split(col("text"), " ").as("wa")), Seq("doc_a"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("span_len"),
        array_join(slice(col("wa"), (col("pos_a") + 1).cast("int"),
          col("span_len").cast("int")), " ").as("span_text"))
      .orderBy(col("span_len").desc, col("doc_a"), col("doc_b"),
        col("pos_a"), col("pos_b"))
  }

  // ---- d13 at scale: the standing corpus as a PERSISTED layout ---------
  //
  // The registered d13 builds the corpus band table in memory each run —
  // correct, but at 100 TB the corpus side must be a standing layout
  // written ONCE at ingest and only PROBED per crawl. These entry points
  // are that layout (proven equal to the in-memory form, with a
  // shuffle-free corpus side, in AnnIndexSpec). All three tables are
  // bucketed Versioned tables: table `t` lives at
  // `<warehouse dir>/<t lower-cased>` (Ddl.warehousePath) with no catalog
  // entry, and its manifest records its bucket spec, so every commit of
  // the table (fold appends, compaction) keeps the layout:
  //
  //   - `<prefix>_bands`  — the MinHash band table, BUCKETED by
  //     (band, sig): the corpus is pre-shuffled on the band-join key, so
  //     the per-crawl join shuffles ONLY the batch side.
  //   - `<prefix>_grams`  — (doc_id, shingle-hash-set) bucketed by
  //     doc_id: exact-Jaccard verification joins candidates to persisted
  //     gram sets — the corpus TEXT is never re-read, never re-shingled.
  //   - `<prefix>_hashes` — (doc_id, md5) bucketed by hash: the stage-1
  //     exact anti-join reads the corpus pre-shuffled on its key.
  //
  // Why the band table is NOT also partitioned by a hash of (band, sig)
  // so a crawl reads only "its" directories: a batch of B docs emits
  // bands·B = 8B band keys, which hit a fraction 1 − (1 − 1/P)^(8B) of P
  // hash directories — at P = 128 that is 27% for B = 5, 96% for B = 50
  // (one serve_ingest admission read 123 of 128 directories) and
  // effectively all for B ≥ 100. Such a prune saves under 5% of band
  // I/O at real batch sizes, yet it cost a 128-directory write at build
  // time, an eager checkpoint + driver collect on every admission, and
  // its own dynamic-partition-overwrite compaction path. Dropping it
  // took serve_ingest's layout build from a median 6.3 s to 2.7 s and an
  // admission from 12 Spark jobs to 9 on a 4-vCPU box (BASELINE.md,
  // "perfbench, nproc=4").
  //
  // Per-crawl cost: signature/gram work O(batch), candidates
  // O(batch·dup_rate), corpus I/O = narrow pre-shuffled projections — no
  // corpus recompute, no corpus shuffle, ever. All three builders are
  // the SAME kernels the in-memory d02/d13 use (minhashBandTable / md5 /
  // shingleHashSet), so geometry cannot drift between the layout and
  // the operators measured on it.

  /** One table of the corpus dedup layout: its name suffix, its bucket
    * (and sort) key, and the kernel deriving its rows from
    * (doc_id, text) rows with the given (shingleN, bands, rows). */
  private[graft] final case class LayoutTable(suffix: String, key: Seq[String],
      kernel: (DataFrame, Int, Int, Int) => DataFrame) {
    def path(spark: SparkSession, prefix: String): String =
      graft.Ddl.warehousePath(spark, s"${prefix}_$suffix")
    def read(spark: SparkSession, prefix: String): DataFrame =
      graft.sources.Versioned.read(spark, path(spark, prefix))
  }

  /** The layout's tables, in the order a fold commits them. */
  private[graft] val LayoutTables: Seq[LayoutTable] = Seq(
    LayoutTable("bands", Seq("band", "sig"),
      (docs, shingleN, bands, rows) => Lsh.minhashBandTable(docs, shingleN, bands, rows)),
    LayoutTable("grams", Seq("doc_id"),
      (docs, _, _, _) => docs.select(col("doc_id"), shingleHashSet(col("text")).as("hs"))),
    LayoutTable("hashes", Seq("h"),
      (docs, _, _, _) => docs.select(col("doc_id"), md5(col("text")).as("h"))))

  /** The app id a fold commits under on each layout table's ledger. */
  private val FoldApp = "fold"

  /** Write the layout of `corpus` (doc_id, text, ...) under `prefix`,
    * each table with `buckets` buckets. An earlier layout under the
    * prefix is deleted first, fold ledgers included: its ledger tags
    * name versions of another admitted log, and a fold that read them
    * would skip admissions the new layout does not hold. */
  def writeCorpusDedupLayout(corpus: DataFrame, prefix: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
      buckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    LayoutTables.foreach { t =>
      graft.Ddl.dropManagedTable(spark, s"${prefix}_${t.suffix}")
      graft.sources.Versioned.create(spark, t.path(spark, prefix),
        t.kernel(corpus, shingleN, bands, rows),
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(buckets, t.key, t.key)))
    }
  }

  /** d13's cascade probing the persisted corpus layout: exact md5 anti
    * join → banded candidates against the bucketed corpus band table
    * (only the batch side shuffles) → exact-Jaccard verify against
    * persisted gram sets → LEFT ANTI drop. Same stages, same kernels,
    * same band geometry as the registered d13; AnnIndexSpec pins result
    * equality. Each table is read at its current version.
    *
    * `exactSurv` feeds three consumers (the band table, the gram sets
    * and the final anti-join) but is not cut: all three sit in one plan,
    * where its exchange is reused, and a cut would cost its own job. The
    * final anti-join broadcasts `dupIds`, which holds at most one batch
    * of ids (only batch-side doc ids survive the verify), and planning
    * the broadcast up front spares AQE the two shuffle stages it would
    * run before flipping the join to a broadcast itself. */
  def incrementalDedupOnLayout(spark: SparkSession, prefix: String, batch: DataFrame,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4): DataFrame = {
    val Seq(bandsT, gramsT, hashesT) = LayoutTables.map(_.read(spark, prefix))
    val exactSurv = batch
      .withColumn("h", md5(col("text")))
      .join(hashesT.select(col("h")), Seq("h"), "left_anti")
      .drop("h")
    val cands = Lsh.minhashBandTable(exactSurv, shingleN, bands, rows).as("a")
      .join(bandsT.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .filter(col("a.band") === Lsh.firstMatchingBandArrays(col("a.bsig"), col("b.bsig")))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
    val batHs = exactSurv.select(col("doc_id"), shingleHashSet(col("text")).as("hs"))
    val dupIds = Lsh.jaccardVerifiedPairsHs(cands, batHs, gramsT, 0.9)
      .select(col("a_id").as("doc_id"))
    exactSurv.join(broadcast(dupIds), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** d13's production seam as a LIVE STREAM (r11): crawl micro-batches
    * arrive via `writeStream.foreachBatch`, each one runs the SAME
    * cascade as the registered d13 against the PERSISTED corpus layout
    * ([[incrementalDedupOnLayout]] — exact md5 anti-join, bucketed
    * band probe, exact-Jaccard verify), and the batch's admitted
    * survivors commit through the (appId, batchId) exactly-once ledger
    * ([[graft.sources.Versioned.commitBatchAppend]]), so a crash-
    * recovery epoch replay recomputes the batch (foreachBatch re-runs
    * the function — that part is inherent to the engine) but can NEVER
    * double-admit a document. Semantics match d13's batch contract
    * exactly — each crawl doc is judged against the STANDING corpus,
    * never against other crawl docs — so the union of per-epoch
    * admissions over any micro-batch split of a crawl equals the
    * one-shot cascade on the whole crawl (StreamingSpec pins this,
    * replays included). The probe reads each layout table at its
    * current version, so a fold or compaction committing meanwhile
    * needs no recovery step here. At 100 TB the corpus side stays a
    * bucketed standing layout probed per epoch: per-epoch cost is
    * O(batch), the admitted table is an append-only versioned log
    * [[refreshCorpusLayout]] folds back into the layout offline. Use as:
    * {{{
    * crawl.writeStream.foreachBatch(
    *   Dedup.streamingIncrementalDedupSink("corpus", path, "crawl-app")).start()
    * }}} */
  def streamingIncrementalDedupSink(prefix: String, outPath: String,
      appId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val surv = incrementalDedupOnLayout(batch.sparkSession, prefix, batch)
      graft.sources.Versioned.commitBatchAppend(
        batch.sparkSession, outPath, appId, batchId, surv)
      ()
    }

  /** The corpus-refresh FOLD-BACK the streaming seam's Scaladoc promises:
    * read the versioned admitted log, compute the newly admitted docs'
    * band / gram / md5 rows with the SAME kernels the layout was built
    * with, and append them to the three standing layout tables — after
    * which the next epoch's probes reject duplicates of the folded docs
    * without the admitted log ever being consulted on the hot path.
    *
    * The admitted log records corpus MEMBERSHIP (doc_id, source,
    * n_chars), not text — at 100 TB one does not copy the corpus into
    * its own changelog — so the fold joins the delta's doc_ids back to
    * `texts` (the crawl/document store; only the delta's rows are read).
    *
    * Exactly-once across replays and crashes comes from each layout
    * table's own (appId, batchId) ledger: the fold reads the admitted
    * log's current version `v`, and commits to table `t` one append
    * tagged ("fold", `v`) holding the kernel of the admissions in
    * (done_t, v], where done_t is the last version folded into `t`. A
    * table whose ledger already holds `v` is skipped, so a replayed
    * fold is a no-op and a fold that died after committing to some
    * tables finishes the others on the next run, each from its own
    * done_t. On the clean path all three tables share one delta and one
    * cut. A doc_id admitted twice is folded twice, just as a rebuild on
    * corpus + admissions includes it twice.
    *
    * What three tables give up against one shared manifest is
    * cross-table atomic visibility: a reader between two of a fold's
    * commits sees the fold in some tables only. Three sequential
    * appends have always had that window; the probe stays correct in
    * it, only less complete. Concurrent folds are NOT supported (one
    * maintenance job at a time); crash recovery and replays are, and
    * a compaction that races a fold loses ([[compactCorpusLayout]]).
    *
    * Returns `Some(v)`, or None when there was nothing new to fold.
    * AnnIndexSpec pins fold ≡ from-scratch rebuild on corpus+admissions
    * (clean, replayed, part-committed and reused-doc_id folds);
    * StreamingSpec extends the d13 chain one link (stream → fold →
    * next-epoch probe rejects duplicates of folded docs). */
  def refreshCorpusLayout(spark: SparkSession, prefix: String,
      admittedPath: String, texts: DataFrame,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4): Option[Long] =
    foldInto(spark, prefix, LayoutTables, admittedPath, texts, shingleN, bands, rows)

  /** [[refreshCorpusLayout]] over `tables` only: a fold that stopped
    * after committing to the first n layout tables is this call on
    * `LayoutTables.take(n)`. */
  private[graft] def foldInto(spark: SparkSession, prefix: String,
      tables: Seq[LayoutTable], admittedPath: String, texts: DataFrame,
      shingleN: Int, bands: Int, rows: Int): Option[Long] = {
    import graft.sources.Versioned
    val v = Versioned.currentVersion(spark, admittedPath)
    val behind = tables
      .map(t => t -> Versioned.lastCommittedBatch(spark, t.path(spark, prefix), FoldApp)
        .getOrElse(0L))
      .filter(_._2 < v)
    // Tables folded through the same version share one delta and one
    // cut; only a fold that stopped part-way leaves two such groups.
    val folded = behind.groupBy(_._2).toSeq.sortBy(_._1).map { case (done, group) =>
      val docs = Versioned.changesBetween(spark, admittedPath, done, v)
        .select(col("doc_id"))
        .join(texts.select(col("doc_id"), col("text")), Seq("doc_id"))
        .cut // feeds every table's kernel
      // The finally drops the cut's blocks on every exit, or a
      // long-lived stream→fold session leaks one delta per fold.
      try !docs.isEmpty && {
        group.foreach { case (t, _) =>
          Versioned.commitBatchAppend(spark, t.path(spark, prefix), FoldApp, v,
            t.kernel(docs, shingleN, bands, rows))
        }
        true
      } finally graft.unpersistCheckpoint(docs)
    }
    if (folded.contains(true)) Some(v) else None
  }

  /** The maintenance half [[refreshCorpusLayout]] makes necessary: each
    * fold appends up to `buckets` files to each layout table, so at
    * production fold cadence the standing layout accumulates small
    * files without bound — the hot probe path degrades long before
    * 100 TB. This pass rewrites each table holding more than
    * `maxFilesPerBucket` × buckets data files (the bucket count its
    * manifest records), and nothing else, with
    * [[graft.sources.Versioned.optimize]]: a replace commit that keeps
    * the bucket spec and the rows, so exchange elision and probe
    * results are unchanged (AnnIndexSpec pins both). The fold ledger
    * rides along untouched: the replace manifest is a new version of
    * the same table, and the next fold still finds its last fold
    * version on the ledger. A fold committing while a table rewrites
    * wins: that table's optimize aborts and it stays as it was, to be
    * compacted by the next pass.
    *
    * Returns per-table (filesBefore, filesAfter) for the tables that
    * were actually rewritten. */
  def compactCorpusLayout(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L << 20,
      maxFilesPerBucket: Int = 2): Map[String, (Int, Int)] = {
    import graft.sources.Versioned
    LayoutTables.flatMap { t =>
      val path = t.path(spark, prefix)
      val before = Versioned.fileCount(spark, path, Versioned.currentVersion(spark, path))
      val buckets = Versioned.bucketSpec(spark, path).fold(1)(_.numBuckets)
      if (before <= maxFilesPerBucket * buckets) None
      else Versioned.optimize(spark, path, targetFileBytes)
        .map(v => s"${prefix}_${t.suffix}" -> ((before, Versioned.fileCount(spark, path, v))))
    }.toMap
  }
}
